package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: `build` runs it on Spark over a scale-factor
  * directory; `oracleSql` is the equivalent DuckDB SQL over the same
  * parquet tables, None for a non-SQL-expressible op (mock inference,
  * UDF splitter, stub decode) → rows-only check; `bench` puts it in
  * Bench's timed book. */
final case class Entry(name: String, build: Queries.Q,
                       oracleSql: Option[String], bench: Boolean = true)

/** The query registry — see SURVEY.md §7.
  *
  * `all` is the operator inventory of SURVEY.md §2 (+ the
  * training-data-pipeline operators from BASELINE.json's north star) as
  * one [[Entry]] per oracle-checkable query, each name registered once.
  * `queries`, `oracleSql` and `benchQueries` derive from it, and Verify,
  * Bench and Plans pick names through [[select]].
  * Definitions live in Queries.scala (relational + RAG surface),
  * QueriesDataOps.scala (dedup / curation / similarity / text /
  * multimodal), QueriesCrawl.scala and QueriesWeb.scala.
  */
object SparkEntry {

  val all: Seq[Entry] = {
    val es = Queries.relational ++ Queries.rag ++
      QueriesDataOps.dedup ++ QueriesDataOps.curation ++
      QueriesDataOps.similarity ++
      QueriesDataOps.text ++ QueriesDataOps.multimodal ++
      QueriesCrawl.crawl ++ QueriesWeb.web
    val dup = es.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"query names registered twice: ${dup.mkString(",")}")
    es
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the reference's §3.1 coaching path end-to-end on deterministic
    * mocks (chunk → embed → index → retrieve → prompt → generate → parse). */
  def entry(spark: SparkSession): DataFrame =
    Queries.coachE2E(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, Queries.Q] = all.map(e => e.name -> e.build).toMap

  /** For each SQL-expressible key in queries, the DuckDB oracle SQL. */
  val oracleSql: Map[String, String] =
    all.flatMap(e => e.oracleSql.map(e.name -> _.trim)).toMap

  /** Bench's book, in registry order: the scale-sensitive operators —
    * aggregation, joins, windows, chunking, Avro wire codec, hashing
    * dedup families, vector search paths, text/multimodal maps. */
  val benchQueries: Seq[Entry] = all.filter(_.bench)

  /** The entries of `pool` named by a comma list, in registry order; the
    * whole pool when the list is absent. Refuses an empty list, and any
    * name `pool` lacks by naming it, so a typo fails before any Spark
    * job instead of silently selecting less. */
  def select(only: Option[String], pool: Seq[Entry]): Seq[Entry] =
    only.fold(pool) { list =>
      val names = list.split(',').map(_.trim).filter(_.nonEmpty).toSet
      require(names.nonEmpty, "the query list is set but empty")
      val unknown = names -- pool.map(_.name)
      require(unknown.isEmpty,
        s"unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
      pool.filter(e => names(e.name))
    }
}
