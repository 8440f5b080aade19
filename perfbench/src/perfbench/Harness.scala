package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** One closed-loop benchmark run in a fresh JVM: one client thread runs
  * one query at a time through the engine's registry
  * (`graft.Queries.queries(name)(spark, dir)`), on `local[4]` with four
  * shuffle partitions.
  *
  * Order of work: three set-ups (the first timed from process launch,
  * the others each a fresh session after stopping the previous one),
  * one cold pass, `--warm-passes` warm passes, then, with `--dump`,
  * an untimed certification evaluation that dumps every result as
  * parquet for the DuckDB oracle and hashes the dump. Each pass runs the
  * queries in an order drawn from `--seed`. With `--trace 1` listeners
  * count jobs, stages, tasks and micro-batches, spans are kept in memory,
  * and the kernel probes run after the certification.
  *
  * Writes one JSON record to `--out`; perfbench/run.py turns it into
  * metrics and checks every execution against the certified hashes.
  */
object Harness {
  val Cores = 4

  final case class Args(fixture: String, queries: Seq[String], seed: Long,
      warmPasses: Int, trace: Boolean, out: String, dump: Option[String],
      launchedAtUs: Long)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    Args(m("fixture"), m("queries").split(",").toSeq, m("seed").toLong,
      m("warm-passes").toInt, m("trace") == "1", m("out"), m.get("dump"),
      m("launched-at-us").toLong)
  }

  private def buildSession(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$work/checkpoints")
    s
  }

  /** Open every fixture table: parquet footers read, schemas resolved. */
  private def openTables(spark: SparkSession, dir: String): Unit = {
    import graft.Tables._
    Seq(embeddings _, documents _, events _, lineitem _, orders _, customer _,
      part _, supplier _, nation _, region _).foreach(t => t(spark, dir).schema)
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  final class Exec(val query: String) {
    var constructS, planS, executeS, heapPeakMb = 0.0
    var rows = -1L
    var hash = 0L
    var error: String = null
    val layers = mutable.LinkedHashMap.empty[String, Any]
  }

  final class PassRec(val index: Int) {
    var wallS, cpuS, heapPeakMb = 0.0
    val execs = ArrayBuffer.empty[Exec]
    val layers = mutable.LinkedHashMap.empty[String, Double]
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val clock = new Clock
    val work = Paths.get("").toAbsolutePath.toString

    // ---- set-up: three times, the median is reported ----------------
    val setups = ArrayBuffer.empty[Double]
    val mainUs = clock.us
    var spark = buildSession(work)
    val sessionUs = clock.us
    openTables(spark, a.fixture)
    setups += (clock.us - a.launchedAtUs) / 1e6
    System.err.println(f"[perfbench] set-up 1: jvm ${(mainUs - a.launchedAtUs) / 1e6}%.2f s, " +
      f"session ${(sessionUs - mainUs) / 1e6}%.2f s, tables ${(clock.us - sessionUs) / 1e6}%.2f s")
    val dir = a.fixture
    for (_ <- 2 to 3) {
      stop(spark)
      val t0 = clock.us
      spark = buildSession(work)
      openTables(spark, dir)
      setups += (clock.us - t0) / 1e6
    }
    val sc = spark.sparkContext

    val registry = graft.Queries.queries
    val missing = a.queries.filterNot(registry.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")

    val spans = if (a.trace) Some(new Spans(clock)) else None
    val layerListener = if (a.trace) Some(new LayerListener) else None
    val streamListener = if (a.trace) Some(new StreamListener) else None
    layerListener.foreach(sc.addSparkListener)
    streamListener.foreach(spark.streams.addListener)
    val root = spans.map(_.open(-1L, "workload", a.queries.mkString(",")))

    def phase[T](parent: Option[Span], kind: String)(body: => T): (T, Double) = {
      val sp = spans.map(_.open(parent.get.id, kind, kind))
      sp.foreach(s => sc.setLocalProperty(LayerListener.PhaseKey, s.id.toString))
      val t0 = System.nanoTime()
      try {
        val out = body
        (out, (System.nanoTime() - t0) / 1e9)
      } finally {
        sp.foreach(s => spans.get.close(s))
        sc.setLocalProperty(LayerListener.PhaseKey, null)
      }
    }

    val heapPeak = new HeapPeak

    // the latest result of each query, re-executed untimed for the dump
    val lastResult = mutable.Map.empty[String, DataFrame]

    def runQuery(pass: PassRec, passSpan: Option[Span], name: String): Exec = {
      val e = new Exec(name)
      heapPeak.take()
      val qSpan = spans.map(_.open(passSpan.get.id, "query", name))
      try {
        val (df, tc) = phase(qSpan, "construct")(registry(name)(spark, dir))
        e.constructS = tc
        val (_, tp) = phase(qSpan, "plan")(df.queryExecution.executedPlan)
        e.planS = tp
        val ((n, h), tx) = phase(qSpan, "execute")(ResultHash(df))
        e.executeS = tx
        e.rows = n
        e.hash = h
        lastResult(name) = df
        if (a.trace) {
          val tracker = df.queryExecution.tracker.phases
          e.layers("analysis_s") = tracker.get("analysis").map(_.durationMs / 1e3).getOrElse(0.0)
          e.layers("optimize_s") = tracker.get("optimization").map(_.durationMs / 1e3).getOrElse(0.0)
          val (examined, kernelRows) = PlanCounts(df.queryExecution.executedPlan)
          e.layers("rows_examined") = examined
          e.layers("kernel_rows") = kernelRows
        }
      } catch {
        case t: Throwable =>
          e.error = s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("")}"
            .linesIterator.take(3).mkString(" | ")
          System.err.println(s"[perfbench] ${pass.index}/$name failed: ${e.error}")
      } finally {
        e.heapPeakMb = heapPeak.take() / 1048576.0
        System.err.println(f"[perfbench] pass ${pass.index} $name " +
          f"${e.constructS + e.planS + e.executeS}%.3f s")
        qSpan.foreach { s =>
          spans.get.close(s)
          s.attrs("rows") = e.rows
          if (e.error != null) s.attrs("error") = e.error
        }
      }
      e
    }

    def runPass(index: Int): PassRec = {
      val p = new PassRec(index)
      val order = new scala.util.Random(a.seed * 1000003L + index).shuffle(a.queries)
      // Every pass starts from a collected heap, untimed: neither set-up
      // garbage nor the previous pass's old-generation garbage is its
      // own, and without it a pass's heap peak depends on when the last
      // marking cycle happened to run.
      System.gc()
      val passSpan = spans.map(_.open(root.get.id, "pass", if (index == 0) "cold" else s"warm$index"))
      val cpu0 = cpuBean.getProcessCpuTime
      val t0 = System.nanoTime()
      order.foreach(q => p.execs += runQuery(p, passSpan, q))
      p.wallS = (System.nanoTime() - t0) / 1e9
      p.cpuS = (cpuBean.getProcessCpuTime - cpu0) / 1e9
      passSpan.foreach(s => spans.get.close(s))
      p.heapPeakMb = p.execs.map(_.heapPeakMb).max
      if (a.trace) Tracing.collect(sc, p, passSpan.get, spans.get, layerListener.get,
        streamListener.get)
      p
    }

    // ---- timed passes: one cold, then a fixed number of warm ones ----
    val passes = (0 to a.warmPasses).map(runPass)
    heapPeak.close()
    root.foreach(s => spans.get.close(s))

    // ---- untimed certification: dump, hash the dump ------------------
    // The last pass's result frames are written out: the plans execute
    // once more, without re-running construction.
    val expected = mutable.LinkedHashMap.empty[String, Any]
    val dumpT0 = System.nanoTime()
    for (dump <- a.dump) {
      a.queries.sorted.foreach { name =>
        val path = s"$dump/$name"
        try {
          lastResult.getOrElse(name, registry(name)(spark, dir))
            .coalesce(1).write.mode("overwrite").parquet(path)
          val (n, h) = ResultHash(spark.read.parquet(path))
          expected(name) = Map("rows" -> n, "hash" -> h.toString)
        } catch {
          case t: Throwable =>
            expected(name) = Map("error" -> String.valueOf(t.getMessage).take(300))
        }
      }
      val oracle = graft.Queries.oracleSql.filter { case (k, _) => a.queries.contains(k) }
      Files.writeString(Paths.get(s"$dump/oracle_sql.json"), Json(oracle))
    }
    val dumpS = (System.nanoTime() - dumpT0) / 1e9

    // ---- kernel probes (traced run only) ----------------------------
    val probeT0 = System.nanoTime()
    val probes: Map[String, Double] = if (a.trace) {
      PerfbenchBus.drain(sc)
      layerListener.get.take()
      KernelProbes.run(spark, dir)
    } else Map.empty

    val record = mutable.LinkedHashMap[String, Any](
      "queries" -> a.queries,
      "seed" -> a.seed,
      "cores" -> Cores,
      "setup_s" -> setups.toSeq,
      "untimed_s" -> Map("dump" -> dumpS,
        "probes" -> (System.nanoTime() - probeT0) / 1e9),
      "load_avg_end" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
      "passes" -> passes.map { p =>
        Map("index" -> p.index, "wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
          "heap_peak_mb" -> p.heapPeakMb,
          "layers" -> p.layers,
          "execs" -> p.execs.map { e =>
            mutable.LinkedHashMap[String, Any]("query" -> e.query,
              "construct_s" -> e.constructS, "plan_s" -> e.planS,
              "execute_s" -> e.executeS, "heap_peak_mb" -> e.heapPeakMb, "rows" -> e.rows, "hash" -> e.hash.toString,
              "error" -> e.error) ++ e.layers
          })
      }.toSeq,
      "expected" -> expected,
      "probes" -> probes,
      "spans" -> spans.map(_.all.map { s =>
        mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent,
          "kind" -> s.kind, "name" -> s.name, "start_us" -> s.start,
          "end_us" -> s.end) ++ s.attrs
      }.toSeq).getOrElse(Seq.empty))
    Files.writeString(Paths.get(a.out), Json(record))
    stop(spark)
  }
}

/** Largest heap in use right after a collection, over every collection
  * the JVM reports between two `take` calls. It counts what a query
  * holds only while it runs, and also old-generation garbage that a
  * young collection leaves for the next marking cycle. */
final class HeapPeak extends NotificationListener {
  import scala.jdk.CollectionConverters._

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  private val peak = new AtomicLong(0L)
  emitters.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(used, math.max)
    }

  /** Peak in bytes since the previous call; resets it. */
  def take(): Long = peak.getAndSet(0L)

  def close(): Unit = emitters.foreach(_.removeNotificationListener(this))
}

/** Order-insensitive content hash of a query result: the sum over rows of
  * a 64-bit hash of each row's UnsafeRow bytes, with the row count.
  * Evaluates every output column of every row, as the engine's own
  * bench does. */
object ResultHash {
  def apply(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      while (it.hasNext) {
        val u = proj(it.next())
        val hi = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42)
        val lo = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 0x5bd1e995)
        h += (hi.toLong << 32) | (lo & 0xffffffffL)
        n += 1
      }
      Iterator.single((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (n2, h2)) => (n + n2, h + h2) }
  }
}

/** Turns what the listeners counted during one traced pass into job and
  * stage spans and per-pass layer totals. */
object Tracing {
  import Harness.{Cores, PassRec}

  /** Spark stamps events in whole milliseconds; a child that starts or
    * ends less than 1 ms outside its parent is rounding, and is clamped. */
  private def clamp(parent: Span, startUs: Long, endUs: Long): (Long, Long) = {
    val s = if (startUs < parent.start && parent.start - startUs < 1000) parent.start else startUs
    val e = if (endUs > parent.end && endUs - parent.end < 1000) parent.end else endUs
    (s, e)
  }

  def collect(sc: org.apache.spark.SparkContext, p: PassRec, passSpan: Span,
      spans: Spans, jobsL: LayerListener, streamL: StreamListener): Unit = {
    PerfbenchBus.drain(sc)
    val (jobs, stages) = jobsL.take()
    val batches = streamL.take()
    val byId = spans.all.map(s => s.id -> s).toMap
    val jobSpan = mutable.Map.empty[Int, Span]
    jobs.foreach { j =>
      val parent = byId.getOrElse(j.phase, passSpan)
      val (s, e) = clamp(parent, j.startMs * 1000, j.endMs * 1000)
      val sp = spans.open(parent.id, "job", s"job ${j.id}", s)
      sp.end = e
      jobSpan(j.id) = sp
    }
    stages.foreach { st =>
      jobSpan.get(st.job).foreach { parent =>
        val (s, e) = clamp(parent, st.submitMs * 1000, st.completeMs * 1000)
        val sp = spans.open(parent.id, "stage", s"stage ${st.id}", s)
        sp.end = e
        sp.attrs("tasks") = st.taskMs.size
        sp.attrs("task_cpu_s") = st.cpuNs / 1e9
      }
    }

    val phaseKind = byId.collect { case (id, s) if Set("construct", "plan", "execute")(s.kind) => id -> s.kind }
    def jobsIn(kind: String) = jobs.count(j => phaseKind.get(j.phase).contains(kind))
    def sum(f: Harness.Exec => Double) = p.execs.map(f).sum
    def lsum(k: String) = p.execs.map(_.layers.getOrElse(k, 0.0) match {
      case d: Double => d
      case l: Long => l.toDouble
      case _ => 0.0
    }).sum
    val mb = 1048576.0
    val taskRunS = stages.map(_.runMs).sum / 1e3
    val skew = stages.filter(_.taskMs.size >= 2).map { st =>
      val sorted = st.taskMs.sorted
      val med = sorted(sorted.size / 2).toDouble
      if (med > 0) sorted.last / med else 1.0
    }
    val results = p.execs.filter(_.rows >= 0).map(_.rows).sum
    val kernelRows = p.execs.flatMap(_.layers.get("kernel_rows").collect {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Long]]
    }).flatten.groupMapReduce(_._1)(_._2)(_ + _)
    val batchMs = batches.map(_._2).sorted
    val stateRows = batches.groupMapReduce(_._1)(_._3)(math.max).values.sum

    val l = p.layers
    l("operators.construct_s") = sum(_.constructS)
    l("operators.construct_jobs") = jobsIn("construct")
    l("catalyst.analysis_s") = lsum("analysis_s")
    l("catalyst.optimize_s") = lsum("optimize_s")
    l("catalyst.planning_s") = sum(_.planS)
    l("catalyst.planning_jobs") = jobsIn("plan")
    l("execution.s") = sum(_.executeS)
    l("execution.jobs") = jobsIn("execute")
    l("execution.stages") = stages.size
    l("execution.tasks") = stages.map(_.taskMs.size).sum
    l("execution.task_cpu_s") = stages.map(_.cpuNs).sum / 1e9
    l("execution.task_run_s") = taskRunS
    l("execution.core_busy_frac") = if (p.wallS > 0) taskRunS / (p.wallS * Cores) else 0.0
    l("execution.sched_wait_s") = stages.map(_.schedWaitMs).sum / 1e3
    l("execution.gc_s") = stages.map(_.gcMs).sum / 1e3
    l("execution.shuffle_write_mb") = stages.map(_.shuffleWrite).sum / mb
    l("execution.shuffle_read_mb") = stages.map(_.shuffleRead).sum / mb
    l("execution.spill_mb") = stages.map(_.spill).sum / mb
    l("execution.skew_max") = if (skew.isEmpty) 1.0 else skew.max
    l("execution.rows_examined_per_result") =
      if (results > 0) lsum("rows_examined") / results else 0.0
    PlanCounts.Kernels.foreach { case (k, _) =>
      l(s"expressions.${k}_rows") = kernelRows.getOrElse(k, 0L).toDouble
    }
    l("streaming.batches") = batches.size
    l("streaming.batch_p50_ms") = if (batchMs.isEmpty) 0.0 else batchMs(batchMs.size / 2).toDouble
    l("streaming.state_rows") = stateRows
    l("tables.scan_mb") = stages.map(_.inBytes).sum / mb
    l("tables.scan_rows") = stages.map(_.inRows).sum
    l("sources.write_mb") = stages.map(_.outBytes).sum / mb
  }
}

/** Minimal JSON writer for the record (maps, sequences, strings, numbers). */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
