package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch microseconds: one epoch reading plus `nanoTime`
  * deltas, so spans are monotonic yet comparable with Spark's own
  * millisecond event times. */
final class Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def us: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** One traced interval. `parent` is -1 for the root. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Long, var end: Long, attrs: mutable.LinkedHashMap[String, Any])

/** In-memory span store, written out once when the run ends. */
final class Spans(clock: Clock) {
  val all = ArrayBuffer.empty[Span]
  private var nextId = 0L
  def open(parent: Long, kind: String, name: String, start: Long = -1L): Span = {
    val s = Span(nextId, parent, kind, name, if (start < 0) clock.us else start,
      -1L, mutable.LinkedHashMap.empty)
    nextId += 1
    all += s
    s
  }
  def close(s: Span): Span = { s.end = clock.us; s }
}

/** Per-stage task totals, filled from task-end events. */
final class StageRec(val id: Int) {
  var job = -1
  var submitMs = -1L
  var completeMs = -1L
  val taskMs = ArrayBuffer.empty[Long]
  var cpuNs, runMs, gcMs, schedWaitMs = 0L
  var shuffleWrite, shuffleRead, spill, inBytes, inRows, outBytes = 0L
}

final class JobRec(val id: Int, val phase: Long, val startMs: Long) {
  var endMs = -1L
}

/** Counts jobs, stages and tasks. Each job carries the id of the
  * benchmark phase span that started it, read from a job-local property
  * the harness sets around each phase. */
final class LayerListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val activeJobStages = mutable.LinkedHashMap.empty[Int, Seq[Int]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(LayerListener.PhaseKey)))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = new JobRec(e.jobId, phase, e.time)
    activeJobStages(e.jobId) = e.stageIds
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    activeJobStages.remove(e.jobId)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    val s = stages.getOrElseUpdate(info.stageId, new StageRec(info.stageId))
    s.submitMs = info.submissionTime.getOrElse(System.currentTimeMillis())
    // the newest running job that lists the stage is the one running it
    s.job = activeJobStages.filter(_._2.contains(info.stageId)).keys
      .foldLeft(-1)(math.max)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(
      _.completeMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
    s.taskMs += e.taskInfo.duration
    if (s.submitMs >= 0) s.schedWaitMs += math.max(0L, e.taskInfo.launchTime - s.submitMs)
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.diskBytesSpilled
      s.inBytes += m.inputMetrics.bytesRead
      s.inRows += m.inputMetrics.recordsRead
      s.outBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Everything finished since the last call; running jobs stay. */
  def take(): (Seq[JobRec], Seq[StageRec]) = synchronized {
    val doneJobs = jobs.values.filter(_.endMs >= 0).toSeq
    doneJobs.foreach(j => jobs.remove(j.id))
    val doneStages = stages.values.filter(_.completeMs >= 0).toSeq
    doneStages.foreach(s => stages.remove(s.id))
    (doneJobs, doneStages)
  }
}

object LayerListener {
  val PhaseKey = "perfbench.phase"
}

/** Micro-batch progress of every streaming query the engine runs. */
final class StreamListener extends StreamingQueryListener {
  private val batches = ArrayBuffer.empty[(String, Long, Long)]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    batches += ((p.runId.toString, p.batchDuration, p.stateOperators.map(_.numRowsTotal).sum))
  }
  /** (runId, batch ms, state rows) since the last call. */
  def take(): Seq[(String, Long, Long)] = synchronized {
    val out = batches.toList
    batches.clear()
    out
  }
}

/** Counts read off an executed plan after it ran. */
object PlanCounts extends AdaptiveSparkPlanHelper {
  /** Expression classes of the engine's row kernels, by probe name. */
  val Kernels: Seq[(String, String)] = Seq(
    "vec_cosine" -> "VecCosine", "vec_dot" -> "VecDot",
    "vec_euclid" -> "VecEuclideanDistance", "lsh_buckets" -> "VecSignLshBuckets",
    "pq_adc" -> "VecPqAdcScore", "shingle_hash" -> "Md5",
    "rep_stats" -> "TextRepetitionStats")

  private def rows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value)
      .getOrElse(if (p.children.size == 1) rows(p.children.head) else 0L)

  /** (Σ operator output rows, rows fed to each kernel). A node that
    * evaluates a kernel is charged its input rows. */
  def apply(plan: SparkPlan): (Long, Map[String, Long]) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    val examined = nodes.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
    val kernelRows = mutable.Map.empty[String, Long].withDefaultValue(0L)
    nodes.foreach { n =>
      val classes = n.expressions.flatMap(_.collect { case e => e.getClass.getSimpleName }).toSet
      val hits = Kernels.filter(k => classes.contains(k._2))
      if (hits.nonEmpty) {
        val in = if (n.children.isEmpty) rows(n) else n.children.map(rows).sum
        hits.foreach(k => kernelRows(k._1) += in)
      }
    }
    (examined, kernelRows.toMap)
  }
}

/** Times the engine's public row kernels over cached fixture columns,
  * net of an identity projection over the same cached rows. */
object KernelProbes {
  import graft.Tables
  import graft.expressions.{TextExpressions, VectorExpressions}
  import graft.functions.VectorFunctions
  import graft.operators.Sketches

  private val Dim = Tables.EmbeddingDim
  private val Repeats = 7
  /** Rows each vector probe scores and documents the repetition probe
    * scans: the fixture's rows, repeated up to these counts. */
  private val VecRows = 50000
  private val DocRows = 5000

  /** Flops and bytes loaded per row at dim 64, counted from the kernels'
    * loops (square roots not counted). Cosine makes two passes over both
    * double vectors: x² and y² sums, then (x/|x|)·(y/|y|), 8 flops and
    * 32 bytes per element. Dot is one multiply-add and euclid a subtract,
    * multiply and add per element, each over one pass (16 bytes). */
  val Work: Map[String, (Int, Int)] = Map(
    "vec_cosine" -> (8 * Dim, 4 * Dim * 8),
    "vec_dot" -> (2 * Dim, 2 * Dim * 8),
    "vec_euclid" -> (3 * Dim, 2 * Dim * 8))

  private def seconds(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.queryExecution.toRdd.foreach(_ => ())
    (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.size / 2)
  }

  private def nsPerRow(base: DataFrame, rows: Long, probe: DataFrame): Double = {
    seconds(probe); seconds(base)
    val t = median((1 to Repeats).map(_ => seconds(probe)))
    val b = median((1 to Repeats).map(_ => seconds(base)))
    (t - b) * 1e9 / rows
  }

  /** ns/row per kernel, plus flops and bytes per row for the vector
    * kernels. Each probe runs on one partition, so ns/row is per core. */
  def run(spark: SparkSession, dir: String): Map[String, Double] = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val nEmb = emb.count()
    val vecs = emb.crossJoin(spark.range(math.max(1L, VecRows / nEmb)).toDF("rep"))
      .select((col("vec_id") * 1000003L + col("rep")).as("id"), col("embedding"))
      .coalesce(1).cache()
    val nVec = vecs.count()
    val q = typedLit(emb.orderBy("vec_id").head().getSeq[Double](1))
    val docs0 = Tables.documents(spark, dir).select("text")
    val nDoc0 = docs0.count()
    val docs = docs0.crossJoin(spark.range(math.max(1L, DocRows / nDoc0)).toDF("rep"))
      .select("text").coalesce(1).cache()
    val nDoc = docs.count()
    // shingling costs ~1 ms per document: the fixture's own documents
    // suffice. Its ns/row is per shingle, the unit of the plan rows that
    // kernel_rows charges to the md5 node.
    val fewDocs = docs0.coalesce(1).cache()
    fewDocs.count()
    val nShingles = fewDocs.select(explode(Sketches.shingles(col("text"), 5))).count()

    val rng = new scala.util.Random(7)
    val m = 8
    val codebooks = Seq.fill(m)((0 until 16).map(c =>
      (c, Seq.fill(Dim / m)(rng.nextGaussian()))))
    val codes = vecs.select(pmod(xxhash64(col("id")), lit(1L << 32)).as("code")).cache()
    codes.count()

    val vecBase = vecs.select(col("embedding"))
    val v = col("embedding")
    val out = mutable.LinkedHashMap.empty[String, Double]
    out("vec_cosine") = nsPerRow(vecBase, nVec, vecs.select(VectorFunctions.cosine(v, q)))
    out("vec_dot") = nsPerRow(vecBase, nVec, vecs.select(VectorFunctions.dot(v, q)))
    out("vec_euclid") = nsPerRow(vecBase, nVec,
      vecs.select(VectorFunctions.euclideanDistance(v, q)))
    out("lsh_buckets") = nsPerRow(vecBase, nVec,
      vecs.select(VectorExpressions.signLshBuckets(v, Dim, bits = 8, bands = 4)))
    out("pq_adc") = nsPerRow(codes.select(col("code")), nVec,
      codes.select(VectorExpressions.pqAdcScore(q, col("code"), codebooks)))
    val t = col("text")
    out("shingle_hash") = nsPerRow(fewDocs.select(t), nShingles,
      fewDocs.select(explode(Sketches.shingles(t, 5)).as("s"))
        .select(Sketches.shingleHash(col("s"))))
    out("rep_stats") = nsPerRow(docs.select(t), nDoc,
      docs.select(TextExpressions.repetitionStats(t)))
    Seq(vecs, codes, docs, fewDocs).foreach(_.unpersist())
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    out.foreach { case (k, ns) => metrics(s"expressions.${k}_ns_per_row") = ns }
    Work.foreach { case (k, (flops, bytes)) =>
      metrics(s"expressions.${k}_flops_per_row") = flops
      metrics(s"expressions.${k}_bytes_per_row") = bytes
    }
    metrics.toMap
  }
}
