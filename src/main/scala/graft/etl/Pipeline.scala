package graft.etl

import graft.Tables
import graft.ops.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's WHOLE pipeline composed end-to-end as one dataflow
  * (q85) — the sign-off that SURVEY §2's operators compose, not just
  * pass in isolation. Mirrors `webscraper-postgres.py:30-285` stage for
  * stage:
  *
  *   1. list-page parse (S1/P1-P5, `:36-70`)         → [[Extract.htmlListExtract]]
  *   2. detail fan-out on parsed URLs (S2, `:77-95`)  → [[Extract.parseDetailPage]]
  *   3. left merge of details onto the list (J1, `:101`)
  *   4. people entity dedup + surrogate ids (A1, `:147-154`)
  *   5. movies MERGE into the prior week's table (U2, `:199-222`)
  *   6. (movie, person, role) edge build with composite-PK dedup
  *      (J4/A2, `:239-285`)
  *
  * Output: one row per surviving edge, carrying the movie's MERGE op —
  * every upstream stage is observable in the result (a parse bug, a lost
  * person id, or a wrong MERGE action all change rows). The DuckDB
  * oracle replays the identical dataflow in SQL; re-run idempotency of
  * the MERGE stage is property-tested in PipelineSpec.
  *
  * Scale shape: stages 1-3 are map-side over the list rows (the detail
  * join is key-equi on p_partkey), the people dictionary is
  * dictionary-sized (broadcast), the MERGE is one key shuffle, and the
  * edge build is explode + broadcast join + distinct — the same bounded
  * shapes the individual queries already assert.
  */
object Pipeline {

  /** Detail-page synthesis keyed off the part row the list item came
    * from — same malformed-variant scheme as Extract's customer-based
    * fixture (p_partkey % 5: 1 no plot, 2 no credits ul → the positional
    * find_all("ul")[1] quirk reads stars as writers, 3 no writers, 4 no
    * stars), valid in BOTH Spark SQL and DuckDB. */
  private val detailSynthSql =
    """'<div class="detail">'
      | || CASE WHEN p_partkey % 5 <> 1 THEN '<p class="pl"><span class="sc-plot">' || p_name || ' plot</span></p>' ELSE '' END
      | || CASE WHEN p_partkey % 5 <> 2 THEN '<ul class="title-pc-list"><li><a>DIR ' || p_name || '</a></li><li><a>co-dir</a></li></ul>' ELSE '' END
      | || CASE WHEN p_partkey % 5 <> 3 THEN '<ul class="writers"><li>W1 ' || p_brand || '</li><li>W2 ' || p_partkey || '</li></ul>' ELSE '' END
      | || CASE WHEN p_partkey % 5 <> 4 THEN '<ul class="cast"><li class="ipc-inline-list__item">S1 ' || p_name || '</li><li class="ipc-inline-list__item">S2</li></ul>' ELSE '' END
      | || '</div>'""".stripMargin.replace("\n", "")

  /** Stages 1-3: parsed list rows left-merged with their detail-page
    * fields. Only rows that produced a details_url fan out (the
    * reference visits exactly those); rows without one keep null detail
    * columns through the left join, like the reference's pandas merge. */
  private[graft] def listWithDetails(spark: SparkSession, dir: String): DataFrame = {
    val listed = Extract.htmlListExtract(spark, dir)
    val visited = listed.filter(col("details_url").isNotNull).select("p_partkey")
    val detailHtml = Tables.part(spark, dir)
      .join(visited, Seq("p_partkey"), "left_semi")
      .withColumn("html", expr(detailSynthSql))
    val details = Extract.parseDetailPage(detailHtml, "html")
      .select(col("p_partkey"), col("director"), col("writers"), col("stars"))
    listed.join(details, Seq("p_partkey"), "left")
  }

  /** Stage 6 input: (movie, role, person) rows exploded from the merged
    * frame — director as-is, writers/stars split from their '|'-joined
    * form — with the reference's composite-PK dedup. */
  private[graft] def roleEdges(merged: DataFrame): DataFrame =
    merged
      .select(col("p_partkey"), explode(expr(
        """concat(
          |  array(named_struct('role', 'director', 'name', director)),
          |  transform(coalesce(split(writers, '\\|'), array()),
          |    x -> named_struct('role', 'writer', 'name', x)),
          |  transform(coalesce(split(stars, '\\|'), array()),
          |    x -> named_struct('role', 'star', 'name', x)))""".stripMargin)).as("rn"))
      .select(col("p_partkey"), col("rn.role").as("role"), col("rn.name").as("name"))
      .filter(col("name").isNotNull && col("name") =!= "")
      .distinct()

  /** Stage 5: the weekly MERGE. `existing` is last week's movies table;
    * incoming rows refresh the dynamic column (imdb_score), title is
    * static, unseen keys insert — exactly [[Upsert.merge]]. */
  private[graft] def moviesMerge(existing: DataFrame, listed: DataFrame): DataFrame =
    Upsert.merge(existing,
      listed.select(col("p_partkey"), col("title"), col("imdb_score")),
      "p_partkey", staticCols = Seq("title"), dynamicCols = Seq("imdb_score"))

  /** Last week's table for the deterministic fixture: the even-keyed
    * half, with a stale score — so the MERGE emits 'updated' for evens
    * and 'inserted' for odds, observable per edge in the output. */
  private[graft] def existingSeed(listed: DataFrame): DataFrame =
    listed.filter(col("p_partkey") % 2 === 0)
      .select(col("p_partkey"), col("title"), lit("0.0").as("imdb_score"))

  /** q85: the full composition. One row per (movie, person, role) edge
    * with the person's surrogate id and the movie's post-MERGE score and
    * MERGE action. */
  def moviePipeline(spark: SparkSession, dir: String): DataFrame = {
    // the merged frame feeds five plan branches (edges→ids via an RDD
    // job, the edges join side, both MERGE sides) — persist it once, and
    // release it after the eager materialization of the (small) result,
    // the same leak-free diamond lifecycle as the dedup family
    val merged = listWithDetails(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edges = roleEdges(merged)
    val ids = Normalize.surrogateIdsFor(edges.select("name").distinct())
    val movies = moviesMerge(existingSeed(merged), merged)
    val out = edges
      .join(broadcast(ids), "name")
      .join(movies.select(col("p_partkey"), col("imdb_score"), col("op")), "p_partkey")
      .select(col("p_partkey"), col("role"), col("name"), col("name_id"),
        col("imdb_score"), col("op"))
      .transform(Materialize)
    merged.unpersist(false)
    out
  }

  val oracle: Map[String, String] = Map(
    // the q35 oracle replays stages 1 (nested WITH is fine in DuckDB);
    // every later stage mirrors the Spark dataflow CTE for CTE
    "q85_movie_pipeline" ->
      s"""WITH listed AS (${Extract.oracle("q35_html_extract")}),
         |dh AS (
         |  SELECT p.p_partkey, $detailSynthSql AS html
         |  FROM part p
         |  WHERE p.p_partkey IN (SELECT p_partkey FROM listed WHERE details_url IS NOT NULL)),
         |dp AS (
         |  SELECT p_partkey, html,
         |    regexp_extract_all(html, '(?s)<ul[^>]*>(.*?)</ul>', 1) AS uls
         |  FROM dh),
         |det AS (
         |  SELECT p_partkey,
         |    nullif(regexp_extract(html, '<ul class="[^"]*title-pc-list[^"]*"><li><a>([^<]*)</a>', 1), '') AS director,
         |    coalesce(array_to_string(regexp_extract_all(uls[2], '<li[^>]*>([^<]*)</li>', 1), '|'), '') AS writers,
         |    coalesce(array_to_string(regexp_extract_all(html, '<li class="ipc-inline-list__item">([^<]*)</li>', 1), '|'), '') AS stars
         |  FROM dp),
         |mrg AS (
         |  SELECT l.p_partkey, l.title, l.imdb_score, d.director, d.writers, d.stars
         |  FROM listed l LEFT JOIN det d USING (p_partkey)),
         |roles AS (
         |  SELECT p_partkey, 'director' AS role, director AS name FROM mrg
         |  UNION ALL
         |  SELECT p_partkey, 'writer', unnest(string_split(writers, '|')) FROM mrg WHERE writers IS NOT NULL
         |  UNION ALL
         |  SELECT p_partkey, 'star', unnest(string_split(stars, '|')) FROM mrg WHERE stars IS NOT NULL),
         |edges AS (
         |  SELECT DISTINCT p_partkey, role, name FROM roles
         |  WHERE name IS NOT NULL AND name <> ''),
         |ids AS (
         |  SELECT name, row_number() OVER (ORDER BY name) AS name_id
         |  FROM (SELECT DISTINCT name FROM edges)),
         |e AS (
         |  SELECT p_partkey, title, '0.0' AS imdb_score FROM mrg WHERE p_partkey % 2 = 0),
         |i AS (SELECT p_partkey, title, imdb_score FROM mrg),
         |movies AS (
         |  SELECT COALESCE(e.p_partkey, i.p_partkey) AS p_partkey,
         |    COALESCE(i.imdb_score, e.imdb_score) AS imdb_score,
         |    CASE WHEN i.p_partkey IS NULL THEN 'kept'
         |         WHEN e.p_partkey IS NULL THEN 'inserted'
         |         ELSE 'updated' END AS op
         |  FROM e FULL OUTER JOIN i ON e.p_partkey = i.p_partkey)
         |SELECT r.p_partkey, r.role, r.name, ids.name_id, m.imdb_score, m.op
         |FROM edges r
         |JOIN ids USING (name)
         |JOIN movies m ON m.p_partkey = r.p_partkey""".stripMargin,
  )
}
