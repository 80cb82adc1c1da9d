package graftbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.examples.{IndexFollower, TrainingDataPipeline}
import graft.functions.{AnnIndex, TableLog}
import graft.streaming.Dedup

/** The open-loop lake workload.
  *
  * One generator thread commits seeded documents into a TableLog table
  * with `TableLog.appendBatch` on a fixed schedule at the reference rate
  * (the latency measurement); a traced run adds a unit on a fresh table
  * that steps through a ladder of higher rates (the sustained-rate
  * measurement). A `TableLog.readTail` →
  * `Dedup.minhashVerdicts` stream (RocksDB state) tails the table into a
  * `foreachBatch` sink that stamps when each verdict is emitted. After
  * the last commit the maintain cycle runs: wait for the stream to drain,
  * hand the verdicts off, `compact` + `vacuum`, `IndexFollower.catchUp`,
  * `TrainingDataPipeline.curate`, and `IndexFollower.takedown` of 20 ids.
  *
  * Documents extend the fixture's 5,000 documents: each takes a fresh id,
  * a seeded permutation of a fixture document's words (one in twenty
  * repeats an earlier generated text exactly, so dedup has keepers and
  * duplicates) and that document's embedding. Commits are due on a
  * fixed schedule, one at the end of every `commitEveryMs` interval, and
  * carry the documents created during it; the seed draws every commit's
  * size (within 20% of rate × interval), and a commit's documents are
  * created evenly over its interval, the last when the commit is due. A
  * document's latency is measured from its creation (due) time, not
  * from when the generator managed to send its commit. */
object LakeWorkload {
  val IdBase = 10000000L
  /** The fixture tables the workload reads. */
  val FixtureTables: Set[String] = Set("documents", "embeddings")
  val CommitEveryMs = 2000.0

  /** A fixed-rate stretch of the schedule, one commit every
    * `commitEveryMs`. */
  final case class Phase(name: String, rate: Double, seconds: Double,
                         commitEveryMs: Double = CommitEveryMs)
  final case class Commit(index: Int, phase: String, lo: Int, hi: Int, dueUs: Long)

  val schema: StructType = StructType.fromDDL(
    "doc_id LONG, text STRING, lang STRING, source STRING, " +
      "embedding ARRAY<FLOAT>, created_us LONG")

  final case class Plan(rows: IndexedSeq[Row], dueOffsetUs: IndexedSeq[Long],
                        commits: IndexedSeq[Commit], sha256: String)

  /** The seeded inputs: documents, their due offsets from the start of
    * the schedule, and the commit boundaries. */
  def plan(base: IndexedSeq[(String, String, String)], vectors: IndexedSeq[Array[Float]],
           phases: Seq[Phase], seed: Long): Plan = {
    val rng = new Random(seed)
    val rows = IndexedSeq.newBuilder[Row]
    val due = IndexedSeq.newBuilder[Long]
    val commits = IndexedSeq.newBuilder[Commit]
    val sha = MessageDigest.getInstance("SHA-256")
    var k = 0
    var commitCount = 0
    var phaseStartUs = 0.0
    var made = Vector.empty[String]
    phases.foreach { ph =>
      val count = math.max(1, math.round(ph.seconds * 1000.0 / ph.commitEveryMs).toInt)
      val mean = math.max(1.0, ph.rate * ph.commitEveryMs / 1000.0)
      val intervalUs = ph.commitEveryMs * 1000.0
      (0 until count).foreach { c =>
        val size = math.max(1, math.round(mean * (0.8 + 0.4 * rng.nextDouble())).toInt)
        val dueUs = math.round(phaseStartUs + (c + 1) * intervalUs)
        val lo = k
        (0 until size).foreach { j =>
          val b = rng.nextInt(base.length)
          val (text0, lang, source) = base(b)
          val text =
            if (made.nonEmpty && rng.nextInt(20) == 0) made(rng.nextInt(made.length))
            else rng.shuffle(text0.split(" ").toSeq).mkString(" ")
          made :+= text
          val createdUs = math.round(phaseStartUs + (c + (j + 1).toDouble / size) * intervalUs)
          rows += Row(IdBase + k, text, lang, source, vectors(b % vectors.length).toSeq, 0L)
          due += createdUs
          sha.update(s"${IdBase + k}\t$text\t$createdUs\n".getBytes("UTF-8"))
          k += 1
        }
        commits += Commit(commitCount, ph.name, lo, k, dueUs)
        sha.update(s"commit\t$lo\t$k\n".getBytes("UTF-8"))
        commitCount += 1
      }
      phaseStartUs += ph.seconds * 1e6
    }
    Plan(rows.result(), due.result(), commits.result(),
      sha.digest().map("%02x".format(_)).mkString)
  }

  private def timed[A](name: String, into: scala.collection.mutable.Map[String, Double])(
      body: => A): A = {
    val t0 = System.nanoTime()
    val out = Trace.span(name)(body)
    into(name) = (System.nanoTime() - t0) / 1e9
    out
  }

  /** One unit on a fresh table: ingest on the schedule and tail it, then
    * (with `maintain`) the maintain cycle; the checks come after timing. */
  def unit(spark: SparkSession, root: String, fixtureDir: String, seed: Long,
           phases: Seq[Phase], tag: String, traced: Boolean,
           maintain: Boolean): Map[String, Any] = {
    import spark.implicits._
    val sc = spark.sparkContext
    val docs = spark.read.parquet(s"$fixtureDir/documents.parquet")
      .select($"text", $"lang", $"source").as[(String, String, String)].collect()
      .toIndexedSeq
    val vecs = spark.read.parquet(s"$fixtureDir/embeddings.parquet").orderBy("vec_id")
      .select($"embedding").as[Array[Float]].collect().toIndexedSeq
    val p = plan(docs, vecs, phases, seed)
    val dir = s"$root/$tag"
    val corpusDir = s"$dir/corpus"
    val emptyCorpus = spark.createDataFrame(new java.util.ArrayList[Row](),
      StructType.fromDDL("vec_id LONG, embedding ARRAY<FLOAT>"))
    val ann = AnnIndex.build(emptyCorpus, s"lake_ann_$tag", planes = 8, buckets = 16)
    if (traced) Trace.start(spark)

    // the tail, started before the first commit
    val emits = new ConcurrentLinkedQueue[(Long, Long, Array[(Long, Boolean)])]()
    val verdicts = Trace.span("Dedup.minhashVerdicts") {
      val tail = Trace.span("TableLog.readTail")(TableLog.readTail(spark, corpusDir, schema))
      Dedup.minhashVerdicts(tail.select($"doc_id", $"text", $"doc_id".as("seq"))
        .as[(Long, String, Long)])
    }.toDF("doc_id", "seq", "root_doc", "is_keeper")
    val query = verdicts.writeStream
      .option("checkpointLocation", s"$dir/verdict_ck")
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        val got = df.select($"doc_id", $"is_keeper").as[(Long, Boolean)].collect()
        emits.add((batchId, Clock.nowUs(), got))
        ()
      }.start()

    // the open-loop generator: one thread, commits sent at their due
    // time. The warm-up commits go first, each sent once the verdicts of
    // the one before are out, so every one is a trigger of its own; the
    // schedule starts after the last, so the timed phases see a warm
    // stream.
    val total = p.rows.length
    def emitted: Int = emits.asScala.map(_._3.length).sum
    val commitRecs = new ConcurrentLinkedQueue[Map[String, Any]]()
    val dueUs = new Array[Long](total)
    @volatile var anchorUs = 0L
    val gen = new Thread(() => {
      SparkSession.setActiveSession(spark)
      val (warm, timedCommits) = p.commits.span(_.phase == "warmup")
      def send(c: Commit, due: Long): Unit = {
        val wait = due - Clock.nowUs()
        if (wait > 0) Thread.sleep(wait / 1000L, ((wait % 1000L) * 1000L).toInt)
        val sendUs = Clock.nowUs()
        val rows = (c.lo until c.hi).map { i =>
          val r = p.rows(i)
          dueUs(i) = anchorUs + p.dueOffsetUs(i)
          Row(r.get(0), r.get(1), r.get(2), r.get(3), r.get(4), dueUs(i))
        }
        sc.setJobGroup(s"lake/$tag/commit/${c.index}", "commit")
        Trace.span("TableLog.appendBatch") {
          TableLog.appendBatch(spark.createDataFrame(rows.asJava, schema), corpusDir,
            "gen", c.index.toLong)
        }
        sc.clearJobGroup()
        commitRecs.add(Map("index" -> c.index, "phase" -> c.phase, "lo" -> c.lo,
          "hi" -> c.hi, "due_us" -> due, "send_us" -> sendUs, "end_us" -> Clock.nowUs()))
      }
      anchorUs = Clock.nowUs()
      warm.foreach { c =>
        send(c, Clock.nowUs())
        val deadline = System.currentTimeMillis() + 60000L
        while (emitted < c.hi && System.currentTimeMillis() < deadline) Thread.sleep(5)
      }
      val offset = timedCommits.headOption.map(c => p.dueOffsetUs(c.lo)).getOrElse(0L)
      anchorUs = Clock.nowUs() + 200000L - offset
      timedCommits.foreach(c => send(c, anchorUs + c.dueUs))
    }, "lake-generator")
    gen.start()
    gen.join()
    val lastCommitUs = Clock.nowUs()
    val steps = scala.collection.mutable.LinkedHashMap[String, Double]()
    timed("drain", steps) {
      val deadline = System.currentTimeMillis() + 60000L
      while (emitted < total && System.currentTimeMillis() < deadline) Thread.sleep(5)
    }
    query.stop()

    def verdictChecks(): Map[String, Any] = {
      val perDoc = emits.asScala.flatMap(_._3.map(_._1)).groupBy(identity).view
        .mapValues(_.size).toMap
      val ids = (0 until total).map(IdBase + _)
      Map("missing_verdicts" -> ids.count(i => !perDoc.contains(i)),
        "repeated_verdicts" -> perDoc.count(_._2 > 1),
        "unknown_verdicts" -> perDoc.keys.count(i => i < IdBase || i >= IdBase + total))
    }
    val ingest = Map("tag" -> tag, "traced" -> traced, "inputs_sha256" -> p.sha256,
      "docs" -> total, "start_us" -> anchorUs, "last_commit_us" -> lastCommitUs,
      "phases" -> phases.map(ph => Map("name" -> ph.name, "rate" -> ph.rate,
        "seconds" -> ph.seconds, "commit_every_ms" -> ph.commitEveryMs)),
      "due_us" -> dueUs.toSeq,
      "commits" -> commitRecs.asScala.toSeq.sortBy(_("index").asInstanceOf[Int]),
      "emits" -> emits.asScala.toSeq.sortBy(_._1).map { case (b, t, got) =>
        Map("batch_id" -> b, "t_us" -> t, "doc_ids" -> got.map(_._1).toSeq)
      })
    if (!maintain) {
      if (traced) Trace.stop(spark)
      return ingest ++ Map("steps_s" -> steps.toMap, "checks" -> verdictChecks())
    }

    // the maintain cycle, timed from the last commit (the drain above
    // included)
    val tableFiles = Files.list(Paths.get(corpusDir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    val tableBytes = tableFiles.map(Files.size).sum
    val verdictDir = s"$dir/verdicts"
    val handoffDir = s"$dir/handoff"
    val ddxDir = s"$dir/dedup_index"
    sc.setJobGroup(s"lake/$tag/maintain", "maintain")
    timed("handoff", steps) {
      emits.asScala.flatMap(_._3).toSeq.toDF("doc_id", "is_keeper")
        .write.parquet(verdictDir)
    }
    timed("TableLog.compact", steps) {
      TableLog.compact(spark, corpusDir, targetBytes = 32L << 20, layoutBy = Seq("doc_id"))
    }
    timed("TableLog.vacuum", steps)(TableLog.vacuum(spark, corpusDir, graceMs = 600000L))
    timed("IndexFollower.catchUp", steps) {
      IndexFollower.catchUp(spark, corpusDir, s"$dir/follower_state", ann, ddxDir)
    }
    val curated = timed("TrainingDataPipeline.curate", steps) {
      TableLog.read(spark, corpusDir).drop("embedding").write.parquet(handoffDir)
      TrainingDataPipeline.curate(spark, handoffDir, verdictDir).count()
    }
    val victims = new Random(seed ^ 0x5DEECE66DL).shuffle(
      (0 until total).map(IdBase + _)).take(20)
    val td = timed("IndexFollower.takedown", steps) {
      IndexFollower.takedown(spark, corpusDir, ddxDir, ann, victims)
    }
    val cycleEndUs = Clock.nowUs()
    sc.clearJobGroup()
    if (traced) Trace.stop(spark)

    // correctness, after timing
    val after = TableLog.read(spark, corpusDir).select($"doc_id").as[Long].collect().toSet
    val takedownOk = td.corpusRows == victims.length && victims.forall(v => !after(v)) &&
      after.size == total - victims.length
    // batch recomputation of the curated count: the same verdicts from
    // one static pass of the dedup operator, then the same curate chain
    val batchVerdictDir = s"$dir/batch_verdicts"
    Dedup.minhashVerdicts(spark.createDataFrame(p.rows.asJava, schema)
        .select($"doc_id", $"text", $"doc_id".as("seq")).as[(Long, String, Long)])
      .toDF("doc_id", "seq", "root_doc", "is_keeper")
      .select($"doc_id", $"is_keeper").write.parquet(batchVerdictDir)
    val batchCurated = TrainingDataPipeline.curate(spark, handoffDir, batchVerdictDir).count()

    ingest ++ Map("cycle_end_us" -> cycleEndUs, "steps_s" -> steps.toMap,
      "table_files" -> tableFiles.length, "table_bytes" -> tableBytes,
      "checks" -> (verdictChecks() ++ Map("takedown_ok" -> takedownOk,
        "takedown_rows" -> td.corpusRows, "curated" -> curated,
        "curated_batch" -> batchCurated)))
  }

  /** An untraced run is one unit over `phases`. A traced run is a traced
    * and an untraced unit over the same `phases` (for trace_overhead),
    * then an untraced unit over the `ladder` of rates without a maintain
    * cycle (for the sustained rate). */
  def run(spark: SparkSession, root: String, fixtureDir: String, seed: Long,
          phases: Seq[Phase], ladder: Seq[Phase], traced: Boolean): Map[String, Any] = {
    // traced first: it pays the JVM's first-run costs of the maintain
    // calls, so trace_overhead errs high, never low
    val units =
      if (traced) Seq(
        unit(spark, root, fixtureDir, seed, phases, "traced", traced = true, maintain = true),
        unit(spark, root, fixtureDir, seed, phases, "untraced", traced = false, maintain = true),
        unit(spark, root, fixtureDir, seed, ladder, "ladder", traced = false, maintain = false))
      else Seq(unit(spark, root, fixtureDir, seed, phases, "run", traced = false, maintain = true))
    Map("units" -> units)
  }
}
