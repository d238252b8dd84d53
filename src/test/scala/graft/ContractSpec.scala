package graft

/** The driver contract itself, enforced: every declared query must carry
  * an oracle (round 1 lost three queries to silent `no_oracle` grading),
  * names must be stable and well-formed, and the flagship entry must
  * produce rows on a bare session. */
class ContractSpec extends SparkSpec {

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"orphan oracles: ${(o -- q).toSeq.sorted}")
  }

  test("query names are well-formed and unique") {
    val names = SparkEntry.queries.keys.toSeq
    assert(names.forall(_.matches("q\\d+_[a-z0-9_]+")), "qNN_snake_case naming")
    assert(names.map(_.takeWhile(_ != '_')).distinct.size == names.size,
      "query numbers must be unique")
  }

  test("oracle SQL is present and single-statement") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, s"$name: empty oracle")
      assert(!sql.trim.endsWith(";"), s"$name: trailing semicolon breaks embedding")
    }
  }

  test("eager checkpoints and Observation live only in ops/Materialize.scala") {
    // one implementation of the checkpoint idiom: a forked copy would
    // re-open the local-vs-reliable choice and the lazy-checkpoint hang
    import scala.jdk.CollectionConverters._
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no ${root.getAbsolutePath}: run from the repo root")
    val forbidden = Seq(".localCheckpoint(", ".checkpoint(", "Observation(")
    // the code part of a line: scaladoc/block-comment lines and trailing
    // `//` comments are prose, not calls
    def code(line: String): String = {
      val t = line.trim
      if (t.startsWith("*") || t.startsWith("/*")) "" else t.split("//", 2)(0)
    }
    val hits = org.apache.commons.io.FileUtils.listFiles(root, Array("scala"), true)
      .asScala.toSeq.filter(_.getName != "Materialize.scala").flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().zipWithIndex.collect {
          case (line, i) if forbidden.exists(code(line).contains) =>
            s"${f.getPath}:${i + 1}: ${line.trim}"
        }.toList finally src.close()
      }
    assert(hits.isEmpty, s"route these through graft.ops.Materialize:\n${hits.mkString("\n")}")
  }

  test("entry produces rows (driver t1 smoke shape)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
