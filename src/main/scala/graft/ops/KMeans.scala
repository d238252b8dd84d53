package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed Lloyd k-means over the embedding corpus — the clustering
  * primitive behind corpus organization at scale (topic bucketing,
  * cluster-balanced sampling, and the cluster step of SemDeDup-style
  * semantic dedup, which q27 approximates with md5-sampled cells).
  *
  * Scale shape (the MLlib pattern, expressed in DataFrames): centroids
  * are K·64 numbers — they live in a ONE-ROW frame that broadcast-joins
  * onto the corpus, so ASSIGNMENT is entirely map-side (a transform +
  * array_min over a K-element array per row, whole-stage codegen'd, no
  * shuffle, no UDF); the UPDATE step is one groupBy(cluster) with 64
  * map-side-partial sums, so each Lloyd round shuffles K × partitions
  * rows regardless of corpus size. 3 rounds = 3 tiny shuffles + 3
  * map-side passes over the corpus — the optimal distributed shape.
  *
  * Determinism (the reason this is oracle-checkable EXACTLY, with no
  * float tolerance): all distances run in the integer-scaled BIGINT
  * space of Similarity.scaled (dims ≤ 2e6, so squared distances ≤
  * 64·1.6e13 < 2^63 — exact); each new centroid coordinate is
  * round(sum/n) — sum and n are exact integers, the division is one
  * correctly-rounded double op, and round-half-away-from-zero agrees
  * between Spark (BigDecimal HALF_UP) and DuckDB (C round) — so
  * centroids snap back to BIGINTs both engines derive bit-identically.
  * Ties in the argmin (exact integer distance equality) break to the
  * lowest centroid id via struct ordering. Init is the K smallest
  * vec_ids (a deterministic seed; k-means++ would sample). A cluster
  * that empties simply drops out of the next round in both engines.
  */
object KMeans {

  /** q111: assignment after `iters` Lloyd rounds, K=`k` centroids seeded
    * from the `k` smallest vec_ids. Returns (vec_id, cluster, dist2). */
  def kmeans(spark: SparkSession, dir: String,
             k: Int = 8, iters: Int = 3): DataFrame = {
    val v = Similarity.scaled(spark, dir).select(col("vec_id"), col("ai"))
    finalAssign(v, k, iters).select(col("vec_id"), col("cluster"), col("dist2"))
  }

  /** The shared Lloyd loop + final assignment (vec_id, ai, cluster,
    * dist2) — q111's body, reused by q118's SemDeDup so the clusters
    * both queries (and their chained oracles) see are one code path. */
  private[graft] def finalAssign(v: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 0)
    var cs = initCentroids(v, k)
    for (_ <- 1 to iters)
      // K-row frame: eager checkpoint keeps each round's plan shallow
      cs = Materialize(update(assign(v, cs)))
    assign(v, cs)
  }

  /** IVF-pruned Lloyd (q139 shares everything with q111 except the
    * assignment expression): per round the K centroids regroup under
    * ⌈√K⌉ COARSE cells — the nc centroids with the smallest
    * md5(cid) are the coarse centers (the q26 deterministic-sample
    * move, recomputed from the centroid frame itself, so it costs
    * nothing corpus-sized), every centroid files under its nearest
    * coarse center (ties → lower coarse index; each cell holds at
    * least its own center) — and a vector scores nc coarse + the
    * fines of its `nprobe` best cells: ~(1+nprobe)·√K distances
    * instead of K, still one broadcast + map-side expression, no
    * shuffle added. Deterministically APPROXIMATE: a vector whose true
    * nearest centroid lives in an unprobed cell mis-assigns — the
    * standard IVF trade (KMeansSpec pins exact equivalence when
    * nprobe covers every cell, and the q26-style recall contract
    * otherwise); the oracle replays the identical pruning. */
  private[graft] def finalAssignIvf(v: DataFrame, k: Int, iters: Int,
                                    nprobe: Int): DataFrame = {
    require(k >= 1 && iters >= 0 && nprobe >= 1)
    var cs = group(initCentroids(v, k))
    for (_ <- 1 to iters)
      cs = Materialize(group(update(assignIvf(v, cs, nprobe))))
    assignIvf(v, cs, nprobe)
  }

  /** Exact integer squared distance, inlined textually (SQL has no
    * first-class lambdas); fresh variable names avoid shadowing the
    * enclosing HOF lambdas. */
  private def distSql(a: String, b: String) =
    s"aggregate(zip_with($a, $b, (px, py) -> (px - py) * (px - py)), CAST(0 AS BIGINT), (sa, se) -> sa + se)"

  /** Re-shape the one-row [carr] centroid frame into the coarse-grouped
    * [cgrp: array<struct<cc:array<bigint>, fines:array<struct<cid,c>>>>]
    * frame — K-sized expressions on a 1-row frame, evaluated once. */
  private[graft] def group(cs: DataFrame): DataFrame =
    cs.select(expr(
      s"""transform(
         |  slice(array_sort(transform(carr,
         |          x -> struct(md5(CAST(x.cid AS STRING)) AS m, x.c AS c))),
         |    1, CAST(ceil(sqrt(CAST(size(carr) AS DOUBLE))) AS INT)),
         |  (co, i) -> named_struct('cc', co.c, 'i', i))""".stripMargin)
      .as("coarse"), col("carr"))
    .select(expr(
      s"""transform(coarse, co -> named_struct(
         |  'cc', co.cc,
         |  'fines', filter(
         |     transform(carr, x -> named_struct('cell',
         |       array_min(transform(coarse, g -> struct(
         |         ${distSql("x.c", "g.cc")} AS d, g.i AS i))).i,
         |       'cid', x.cid, 'c', x.c)),
         |     f -> f.cell = co.i)))""".stripMargin).as("cgrp"))

  /** Map-side pruned assignment over the coarse-grouped broadcast.
    * The probe ranking keeps only NON-EMPTY cells (duplicate coarse
    * coordinates can leave a twin's cell empty — its own center files
    * under the lower-index twin; ADVICE r9): an empty cell inside the
    * top-nprobe window contributed zero candidates, so filtering first
    * re-targets that probe budget to non-empty cells — the candidate
    * set per vector is a strict SUPERSET of the unfiltered form's, so
    * assignments change only by finding a same-or-closer centroid, and
    * the candidate list is non-empty whenever K ≥ 1 — `best` can never
    * be NULL. */
  private[graft] def assignIvf(v: DataFrame, cgrp: DataFrame,
                               nprobe: Int): DataFrame =
    v.crossJoin(broadcast(cgrp))
      .withColumn("best", expr(
        s"""array_min(flatten(transform(
           |  slice(filter(array_sort(transform(cgrp,
           |          (g, gi) -> struct(${distSql("ai", "g.cc")} AS d, gi AS gi))),
           |      p -> size(element_at(cgrp, p.gi + 1).fines) > 0),
           |    1, $nprobe),
           |  p -> transform(element_at(cgrp, p.gi + 1).fines,
           |         x -> struct(${distSql("ai", "x.c")} AS d, x.cid AS cid)))))"""
          .stripMargin))
      .select(col("vec_id"), col("ai"),
        col("best.cid").as("cluster"), col("best.d").as("dist2"))

  /** One-row frame [carr: array<struct<cid:int, c:array<bigint>>>] from
    * the k smallest vec_ids, cid = rank. TakeOrderedAndProject does the
    * global top-k; the collect_list runs over k rows only. */
  private[graft] def initCentroids(v: DataFrame, k: Int): DataFrame =
    v.orderBy(col("vec_id")).limit(k)
      .agg(sort_array(collect_list(struct(col("vec_id"), col("ai")))).as("s"))
      .select(expr("transform(s, (x, i) -> struct(CAST(i AS INT) AS cid, x.ai AS c))")
        .as("carr"))

  /** Map-side assignment: per row, exact squared distance to each of the
    * K broadcast centroids; array_min's struct ordering gives
    * (min dist2, then min cid). */
  private[graft] def assign(v: DataFrame, cs: DataFrame): DataFrame =
    v.crossJoin(broadcast(cs))
      .withColumn("best", expr(
        """array_min(transform(carr, x -> struct(
          |  aggregate(zip_with(ai, x.c, (a, b) -> (a - b) * (a - b)),
          |            CAST(0 AS BIGINT), (s, e) -> s + e) AS d,
          |  x.cid AS cid)))""".stripMargin))
      .select(col("vec_id"), col("ai"),
        col("best.cid").as("cluster"), col("best.d").as("dist2"))

  /** One Lloyd update: 64 map-side-partial sums per cluster, means
    * rounded back to the exact BIGINT grid, re-packed into the one-row
    * broadcastable centroid frame (sorted by cid). */
  private[graft] def update(assigned: DataFrame): DataFrame = {
    val sums = (0 until 64).map(i => sum(expr(s"ai[$i]")).as(s"s$i"))
    val dims = (0 until 64).map(i =>
      expr(s"CAST(round(CAST(s$i AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)"))
    assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), sums: _*)
      .select(struct(col("cluster").as("cid"), array(dims: _*).as("c")).as("e"))
      .agg(sort_array(collect_list(col("e"))).as("carr"))
  }

  /** The WITH-body of the unrolled Lloyd chain, ending in CTE `afinal`
    * (vec_id, ai, cid, d) — shared by q111's oracle and q118's, which
    * continues the dataflow with within-cluster pair generation.
    * `kSql` is a SQL expression for K — a literal, or a scalar subquery
    * over `v` so the oracle derives the same corpus-sized K the Spark
    * side computes at runtime (the auto-K entries). */
  private[graft] def oracleChain(k: Int, iters: Int): String =
    oracleChain(k.toString, iters)

  private[graft] def oracleChain(kSql: String, iters: Int): String = {
    val scaledSql =
      """SELECT vec_id,
        |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS ai
        |FROM embeddings""".stripMargin
    def assignSql(cFrom: String, name: String) =
      s"""$name AS (
         |  SELECT vec_id, ai, cid, d FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM (
         |      SELECT v.vec_id, v.ai, c.cid,
         |        CAST(list_sum(list_transform(range(0, 64),
         |          i -> (v.ai[i+1] - c.c[i+1]) * (v.ai[i+1] - c.c[i+1]))) AS BIGINT) AS d
         |      FROM v, $cFrom c))
         |  WHERE rn = 1)""".stripMargin
    def updateSql(aFrom: String, name: String) =
      s"""$name AS (
         |  SELECT cid, list(CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
         |                   ORDER BY i) AS c
         |  FROM (
         |    SELECT cid, i, CAST(sum(ai[i+1]) AS BIGINT) AS s, count(*) AS n
         |    FROM $aFrom, (SELECT unnest(range(0, 64)) AS i)
         |    GROUP BY 1, 2)
         |  GROUP BY 1)""".stripMargin
    val rounds = (0 until iters).flatMap { r =>
      Seq(assignSql(s"c$r", s"a$r"), updateSql(s"a$r", s"c${r + 1}"))
    }.mkString(",\n")
    s"""v AS ($scaledSql),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, ai AS c
       |  FROM (SELECT vec_id, ai FROM v ORDER BY vec_id LIMIT $kSql)),
       |$rounds,
       |${assignSql(s"c$iters", "afinal")}""".stripMargin
  }

  /** The WITH-body of the unrolled IVF-PRUNED Lloyd chain (q139),
    * ending in CTE `afinal` — mirrors [[finalAssignIvf]] exactly: per
    * round, coarse = ⌈√K⌉ smallest-md5(cid) centroids indexed in that
    * order, each centroid files under its nearest coarse (ties → lower
    * index), each vector probes its `nprobe` best coarse cells and
    * argmins over their fines only. Derived CTEs are MATERIALIZED —
    * each is referenced more than once per round, and DuckDB's default
    * inlining would re-expand the chain multiplicatively (the q134
    * lesson). */
  private[graft] def oracleChainIvf(kSql: String, iters: Int,
                                    nprobe: Int): String = {
    val scaledSql =
      """SELECT vec_id,
        |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS ai
        |FROM embeddings""".stripMargin
    def dSql(a: String, b: String) =
      s"CAST(list_sum(list_transform(range(0, 64), i -> ($a[i+1] - $b[i+1]) * ($a[i+1] - $b[i+1]))) AS BIGINT)"
    def roundSql(cFrom: String, r: String, aName: String) =
      s"""co$r AS MATERIALIZED (SELECT cid, c, rn - 1 AS gi FROM (
         |    SELECT cid, c, row_number() OVER (ORDER BY md5(CAST(cid AS VARCHAR)), c) AS rn
         |    FROM $cFrom)
         |  WHERE rn <= ceil(sqrt((SELECT count(*) FROM $cFrom)))),
         |fm$r AS MATERIALIZED (SELECT cid, c, gi AS cell FROM (
         |    SELECT f.cid, f.c, g.gi,
         |      row_number() OVER (PARTITION BY f.cid ORDER BY ${dSql("f.c", "g.c")}, g.gi) AS rn
         |    FROM $cFrom f, co$r g) WHERE rn = 1),
         |pr$r AS MATERIALIZED (SELECT vec_id, gi FROM (
         |    SELECT v.vec_id, g.gi,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY ${dSql("v.ai", "g.c")}, g.gi) AS rn
         |    FROM v, co$r g
         |    WHERE g.gi IN (SELECT DISTINCT cell FROM fm$r)) WHERE rn <= $nprobe),
         |$aName AS MATERIALIZED (SELECT vec_id, ai, cid, d FROM (
         |    SELECT v.vec_id, v.ai, f.cid, ${dSql("v.ai", "f.c")} AS d,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY ${dSql("v.ai", "f.c")}, f.cid) AS rn
         |    FROM v JOIN pr$r p ON p.vec_id = v.vec_id JOIN fm$r f ON f.cell = p.gi)
         |  WHERE rn = 1)""".stripMargin
    def updateSql(aFrom: String, name: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT cid, list(CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
         |                   ORDER BY i) AS c
         |  FROM (
         |    SELECT cid, i, CAST(sum(ai[i+1]) AS BIGINT) AS s, count(*) AS n
         |    FROM $aFrom, (SELECT unnest(range(0, 64)) AS i)
         |    GROUP BY 1, 2)
         |  GROUP BY 1)""".stripMargin
    val rounds = (0 until iters).flatMap { r =>
      Seq(roundSql(s"c$r", s"$r", s"a$r"), updateSql(s"a$r", s"c${r + 1}"))
    }.mkString(",\n")
    s"""v AS ($scaledSql),
       |c0 AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, ai AS c
       |  FROM (SELECT vec_id, ai FROM v ORDER BY vec_id LIMIT $kSql)),
       |$rounds,
       |${roundSql(s"c$iters", "f", "afinal")}""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q111_kmeans" ->
      s"""WITH ${oracleChain(8, 3)}
         |SELECT vec_id, cid AS cluster, d AS dist2 FROM afinal""".stripMargin,
  )
}
