package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** A set of batch-registry queries, timed from outside through
  * `SparkEntry.queries`, the same entry points `graft.Verify` runs.
  *
  * Protocol: set-up (fresh session, table footers, one trivial job) runs
  * six times, and the first, JIT-cold one is not reported; then one first
  * pass in the last session
  * (each query's first call: planning, codegen and memo fill); then warm
  * passes in seeded shuffled orders until `seconds` have passed and at
  * least three passes are in; then one untimed dump of every output for
  * the oracle digest. After every call the blocks the query left behind
  * are freed, as `graft.Verify` does, and the process-wide memos are
  * cleared so no call reuses another's training.
  *
  * A call is one query run into the `noop` sink, as `graft.Bench` times it.
  */
final class RegistryBench(
    newSession: () => SparkSession,
    dataDir: String,
    queries: Seq[String],
    seed: Long,
    seconds: Int,
    spans: Spans,
    dumpDir: String) {

  private val fns = SparkEntry.queries
  private var spark: SparkSession = _
  private val calls = mutable.ArrayBuffer.empty[Call]

  final class Call(val id: String, val query: String, val phase: String,
      val pass: Int, val start: Double, val end: Double, val error: String,
      val cachedBytes: Long) {
    var jobs = 0
    var taskMs = 0.0
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    val phases = mutable.Map("analysis" -> 0.0, "optimization" -> 0.0,
      "planning" -> 0.0)
    def toMap: Map[String, Any] = Map("id" -> id, "query" -> query,
      "phase" -> phase, "pass" -> pass, "start" -> start, "end" -> end,
      "error" -> error, "cached_bytes" -> cachedBytes, "jobs" -> jobs,
      "task_ms" -> taskMs, "shuffle_read_bytes" -> shuffleRead,
      "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
      "phases" -> phases.toMap)
  }

  // ─── layer listeners (traced run only) ─────────────────────────────────

  private val CallKey = "perfbench.call"
  private val jobCall = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Double]
  private val stageCall = mutable.Map.empty[Int, String]
  private val jobTotals = mutable.Map.empty[String, Int]
  private val taskTotals = mutable.Map.empty[String, Array[Double]]
  private val phaseEvents = mutable.ArrayBuffer.empty[(String, Double, Double)]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val id = Option(e.properties).map(_.getProperty(CallKey)).orNull
      if (id != null) {
        jobCall(e.jobId) = id
        jobStart(e.jobId) = e.time.toDouble
        e.stageIds.foreach(stageCall(_) = id)
        jobTotals(id) = jobTotals.getOrElse(id, 0) + 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobCall.get(e.jobId).foreach { id =>
        spans.add(s"job:${e.jobId}", id, "job", s"job ${e.jobId}",
          jobStart(e.jobId), e.time.toDouble)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      for (id <- stageCall.get(e.stageId) if m != null) {
        val t = taskTotals.getOrElseUpdate(id, Array.fill(4)(0.0))
        t(0) += m.executorRunTime
        t(1) += m.shuffleReadMetrics.totalBytesRead
        t(2) += m.shuffleWriteMetrics.bytesWritten
        t(3) += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = phaseEvents.synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phaseEvents += ((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
    }
  }

  // ─── calls ──────────────────────────────────────────────────────────────

  private def cleanup(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    graft.ops.QualityModel.clearWeightMemo()
    graft.ops.Curation.clearDsirMemo()
  }

  private def call(q: String, phase: String, pass: Int): Call = {
    val id = s"$phase:$pass:$q"
    val sc = spark.sparkContext
    sc.setLocalProperty(CallKey, id)
    val t0 = Clock.nowMs()
    val err =
      try { fns(q)(spark, dataDir).write.format("noop").mode("overwrite").save(); null }
      catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    val t1 = Clock.nowMs()
    sc.setLocalProperty(CallKey, null)
    val cached = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    cleanup()
    val c = new Call(id, q, phase, pass, t0, t1, err, cached)
    calls += c
    spans.add(id, null, "query", q, t0, t1)
    c
  }

  private def setup(): Unit = {
    if (spark != null) spark.stop()
    spark = newSession()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => graft.harness.StandIn.table(spark, dataDir, t).schema)
    spark.range(1000).selectExpr("sum(id)").collect()
  }

  def run(): Map[String, Any] = {
    val setupS = (0 until 6).map { k =>
      val t0 = Clock.nowMs(); setup(); Main.mark(s"setup $k done")
      (Clock.nowMs() - t0) / 1000.0
    }
    if (spans.on) {
      spark.sparkContext.addSparkListener(jobListener)
      spark.listenerManager.register(qeListener)
    }
    queries.foreach(call(_, "first", 0))
    Main.mark("first pass done")
    val gcBefore = Jvm.gcMs()
    Jvm.resetPeaks()
    val rnd = new scala.util.Random(seed)
    val t0 = Clock.nowMs()
    var pass = 0
    while (pass < 3 || Clock.nowMs() - t0 < seconds * 1000.0) {
      pass += 1
      rnd.shuffle(queries).foreach(call(_, "warm", pass))
    }
    val tEnd = Clock.nowMs()
    Main.mark(s"$pass warm passes done")
    val gcMs = Jvm.gcMs() - gcBefore
    val heapPeakMb = Jvm.heapPeakMb()
    // The oracle dump, outside every timed region.
    val dumped = queries.map { q =>
      val err =
        try {
          fns(q)(spark, dataDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$dumpDir/$q")
          null
        } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      cleanup()
      q -> err
    }.toMap
    Main.mark("dumped")
    if (spans.on) {
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      attribute()
    }
    Map(
      "setup_s" -> setupS.drop(1),
      "window" -> Map("start" -> t0, "end" -> tEnd),
      "passes" -> pass,
      "calls" -> calls.map(_.toMap).toSeq,
      "dump_errors" -> dumped,
      "oracle_sql" -> queries.map(q => q -> SparkEntry.oracleSql.getOrElse(q, null)).toMap,
      "jvm_gc_ms" -> gcMs,
      "jvm_heap_peak_mb" -> heapPeakMb)
  }

  /** Fold the listener totals into each call, and nest each planning phase
    * under the call whose interval holds its start.
    */
  private def attribute(): Unit = {
    val byId = calls.map(c => c.id -> c).toMap
    jobTotals.foreach { case (id, n) => byId.get(id).foreach(_.jobs = n) }
    taskTotals.foreach { case (id, t) =>
      byId.get(id).foreach { c =>
        c.taskMs = t(0); c.shuffleRead = t(1).toLong
        c.shuffleWrite = t(2).toLong; c.spill = t(3).toLong
      }
    }
    val sorted = calls.sortBy(_.start)
    val starts = sorted.map(_.start).toArray
    phaseEvents.foreach { case (name, s, e) =>
      val i = java.util.Arrays.binarySearch(starts, s + 0.5) match {
        case k if k >= 0 => k
        case k => -k - 2
      }
      if (i >= 0 && s <= sorted(i).end + 0.5 && sorted(i).phases.contains(name)) {
        val c = sorted(i)
        c.phases(name) += e - s
        spans.add(s"$name:${c.id}:$s", c.id, name, name, s, e)
      }
    }
  }
}
