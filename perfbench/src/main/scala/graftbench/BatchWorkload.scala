package graftbench

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.SparkEntry
import graft.queries._

/** The closed-loop batch workload: one client runs a fixed list of
  * `SparkEntry.queries` entries, each materialized by a noop write, in an
  * order shuffled by the seed for every timed pass.
  *
  * A run is three untimed warm-up passes in the list's own order, the
  * first of which also takes every result's digest (row count plus two
  * order-independent hashes, taken by `Dataset.observe` during the
  * write), then `passes` timed passes. The warm-up order is fixed because
  * it shapes what the JIT compiles: with seeded warm-up orders, whole
  * runs read 20% apart by seed. A
  * traced run does `passes` untraced and `passes` traced timed passes,
  * interleaved, so the tracing overhead is measured on the same work. */
object BatchWorkload {
  /** Every group of `SparkEntry`, by name (the entry keeps its own list
    * private). */
  val groups: Seq[(String, QueryGroup)] = Seq(
    "CoreOps" -> CoreOps, "WindowOps" -> WindowOps, "ExtraOps" -> ExtraOps,
    "MiscOps" -> MiscOps, "JoinOps" -> JoinOps, "TextOps" -> TextOps,
    "DedupOps" -> DedupOps, "SimilarityOps" -> SimilarityOps,
    "MultimodalOps" -> MultimodalOps, "MlOps" -> MlOps,
    "PipelineOps" -> PipelineOps, "CurationOps" -> CurationOps,
    "SketchOps" -> SketchOps, "GovernanceOps" -> GovernanceOps,
    "ScaleOps" -> ScaleOps)

  /** The query list: six relational queries, whose time is mostly
    * planning, scheduling and driver work, and five kernel queries, whose
    * time goes to native kernels, exchange and the eager cuts inside
    * query construction. (The full families, 57 and 53 queries, take
    * 30-45 s per pass on 4 cores, and a cold first pass twice that: too
    * long to repeat within one run.) Eleven queries over three passes put
    * the median (17th of 33) and the tail sample (23rd) in the middle of
    * one query's three samples, not on the edge between two queries. */
  val relational: Seq[String] = Seq("q1_agg", "filter_where", "ewm_mean",
    "rolling_quantile", "join_inner_agg", "corpus_stats")
  val kernels: Seq[String] = Seq("dedup_minhash_lsh", "embed_quantize",
    "text_langid_ngram", "river_ols", "text_pii_redact")
  val workloads: Map[String, Seq[String]] = Map("batch_queries" -> (relational ++ kernels))

  def groupOf(query: String): String =
    groups.collectFirst { case (g, q) if q.queries.contains(query) => g }
      .getOrElse(sys.error(s"unknown query $query"))

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Order-independent digest columns of a result. Map-typed columns are
    * hashed through their JSON text (maps are not hashable). */
  private def digestCols(df: DataFrame): Seq[Column] = {
    val cols = df.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name))
      else col(f.name)
    }
    Seq(count(lit(1)).as("rows"),
      sum(hash(cols: _*).cast("long")).as("hash_sum"),
      bit_xor(xxhash64(cols: _*)).as("hash_xor"))
  }

  def run(spark: SparkSession, workload: String, fixtureDir: String,
          seed: Long, passes: Int, traced: Boolean): Map[String, Any] = {
    val names = workloads(workload)
    val entries = SparkEntry.queries
    val sc = spark.sparkContext

    def once(pass: Int, name: String, digest: Boolean): Map[String, Any] = {
      val group = groupOf(name)
      sc.setJobGroup(s"$workload/p$pass/$name", name)
      val start = Clock.nowUs()
      var buildEnd = start
      val out: Either[String, Option[Map[String, Any]]] = try {
        Trace.span(s"query:$name") {
          val df = Trace.span(s"SparkEntry.queries/$group") {
            entries(name)(spark, fixtureDir)
          }
          buildEnd = Clock.nowUs()
          Trace.span("materialize") {
            if (digest) {
              val obs = Observation(s"digest_$pass")
              val d = digestCols(df)
              df.observe(obs, d.head, d.tail: _*)
                .write.format("noop").mode("overwrite").save()
              val m = obs.get
              Right(Some(Map("rows" -> m("rows"),
                "hash_sum" -> Option(m("hash_sum")).map(_.toString).getOrElse("null"),
                "hash_xor" -> Option(m("hash_xor")).map(_.toString).getOrElse("null"))))
            } else {
              df.write.format("noop").mode("overwrite").save()
              Right(None)
            }
          }
        }
      } catch {
        case e: Throwable => Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
      } finally sc.clearJobGroup()
      val end = Clock.nowUs()
      Map("name" -> name, "group" -> group, "start_us" -> start,
        "build_end_us" -> buildEnd, "end_us" -> end, "ok" -> out.isRight,
        "error" -> out.left.toOption, "digest" -> out.toOption.flatten)
    }

    def pass(i: Int, digest: Boolean, tracedPass: Boolean,
             warmup: Boolean = false): Map[String, Any] = {
      val order = if (warmup || digest) names else new Random(seed * 1000003L + i).shuffle(names)
      if (tracedPass) Trace.start(spark)
      val start = Clock.nowUs()
      val qs = order.map(once(i, _, digest))
      val end = Clock.nowUs()
      if (tracedPass) Trace.stop(spark)
      Map("index" -> i, "traced" -> tracedPass, "warmup" -> (digest || warmup),
        "start_us" -> start, "end_us" -> end, "queries" -> qs)
    }

    // the digest pass, then two untimed passes more: the passes after the
    // first still speed up pass by pass as the JIT compiles the queries
    val warm = pass(0, digest = true, tracedPass = false) +:
      Seq(-1, -2).map(i => pass(i, digest = false, tracedPass = false, warmup = true))
    // traced runs alternate untraced/traced in ABBA order, so neither side
    // always gets the first (slowest) timed pass
    val timed = (1 to passes).flatMap { p =>
      if (!traced) Seq(pass(p, digest = false, tracedPass = false))
      else {
        val first = p % 2 == 0
        Seq(pass(2 * p - 1, digest = false, tracedPass = first),
          pass(2 * p, digest = false, tracedPass = !first))
      }
    }
    Map("queries" -> names, "passes" -> (warm ++ timed))
  }
}
