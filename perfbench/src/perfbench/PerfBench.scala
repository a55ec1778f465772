package perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.DocRow
import graft.corpus.Corpus
import graft.engine.Pipeline

/** The JVM half of the benchmark: one workload, one seed, one session.
  *
  * Phases: set-up (session, input materialization, warm-up reps until JIT
  * compilation settles), timed reps with tracing off, then with
  * `--trace 1` the traced passes, and last an untimed correctness pass.
  * Results go to `--result` as JSON; `run.py` turns them into the report.
  *
  * Usage: PerfBench --workload W --seed N --seconds S --trace 0|1
  *   --cores C --work DIR --result FILE --spans FILE
  */
object PerfBench {
  val Containers = Set("docx", "xlsx", "pptx", "zip")

  /** Docs per rep. The mix repeats every 1000 generator indices, so every
    * window of whole thousands has the same kind make-up.
    */
  val MixedDocs = 6000L
  val ContainerWindow = 40000L // 200 container docs per 1000 indices

  /** Bounds on the warm-up's length, and the JIT compile seconds per wall
    * second of a rep below which it may end before WarmupMaxS.
    */
  val WarmupMinS = 5.0
  val WarmupMaxS = 20.0
  val JitShareDone = 0.5

  /** One rep. `net` is its wall time less the host's steal over the same
    * interval, per core: the time the VM's cores were really given.
    */
  final case class Rep(wall: Double, net: Double, docs: Long, phase: Phase,
      gcMs: Long, steal: Double, jitMs: Long)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val work = a("work")
    require(Set("extract-mixed", "extract-containers")(workload),
      s"unknown workload $workload")

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val steal00 = Stats.stealS
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new TaskListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
      val w = new Workload(spark, workload, seed, cores, work, listener)
      val m0 = System.nanoTime()
      w.materialize()
      val materializeS = (System.nanoTime() - m0) / 1e9

      // warm-up: whole reps for at least WarmupMinS seconds, then until the
      // JIT compilers' share of a rep falls below JitShareDone, for at most
      // WarmupMaxS seconds
      val warm = ArrayBuffer.empty[Rep]
      val w0 = System.nanoTime()
      def warmS = (System.nanoTime() - w0) / 1e9
      def compiling: Boolean = warm.isEmpty || warmS < WarmupMinS ||
        warm.last.jitMs / 1e3 > JitShareDone * warm.last.wall
      while (compiling && warmS < WarmupMaxS) warm += w.rep()
      val setupS = (System.currentTimeMillis() - jvmStart) / 1e3 -
        (Stats.stealS - steal00) / cores
      System.err.println("[setup] " + Stats.json(Map("session_s" -> sessionS,
        "materialize_s" -> materializeS, "warmup_s" -> warm.map(_.wall).toSeq,
        "setup_s" -> setupS)))

      // timed reps, tracing off
      Stats.resetHeapPeak()
      val gc0 = Stats.gcMs
      val steal0 = Stats.stealS
      val t0 = System.nanoTime()
      val reps = ArrayBuffer.empty[Rep]
      while (reps.length < 3 || (System.nanoTime() - t0) / 1e9 < seconds) {
        reps += w.rep()
      }
      val timedGcS = (Stats.gcMs - gc0) / 1e3
      val timedSteal = Stats.stealS - steal0
      val heapPeak = Stats.heapPeakMb

      val e2e = Map(
        "ops_per_s" -> reps.map(r => r.docs / r.net).toSeq,
        "cpu_ms_per_op" -> reps.map(r => r.phase.cpuS * 1e3 / r.docs).toSeq,
        "setup_s" -> Seq(setupS))

      val layers: Map[String, Double] =
        if (!traced) Map.empty
        else w.traced(reps.toSeq, a("spans")) ++ Map(
          "spark.tasks.count" -> Stats.median(reps.map(_.phase.mainTaskCount.toDouble).toSeq),
          "spark.tasks.max_over_median" -> Stats.median(reps.map(_.phase.maxOverMedian).toSeq),
          "jvm.gc_s" -> timedGcS,
          "jvm.heap_peak_mb" -> heapPeak,
          "host.steal_s" -> timedSteal)

      val (checked, failures) = w.check()
      failures.foreach(f => System.err.println("[check] " + f))
      val res = Map(
        "workload" -> workload, "seed" -> seed, "cores" -> cores,
        "docs_per_rep" -> w.docs, "warmup_s" -> warm.map(_.wall).toSeq,
        "reps" -> reps.length,
        "attempted" -> checked, "failed" -> failures.size,
        "e2e" -> e2e, "layers" -> layers,
        "makeup" -> (if (traced) w.makeup().map { case (k, (n, b)) => k -> Seq(n, b) }
          else Map.empty))
      val out = new java.io.PrintWriter(a("result"))
      try out.println(Stats.json(res)) finally out.close()
    } finally spark.stop()
  }
}

/** One workload's input, rep, traced passes and checks. */
final class Workload(spark: SparkSession, name: String, seed: Long, cores: Int,
    work: String, listener: TaskListener) {
  import spark.implicits._

  private val input = s"$work/input"
  private val sc = spark.sparkContext
  private var repNo = 0
  private val mixed = name == "extract-mixed"

  /** First generator index of this seed's window (whole thousands). */
  private val base = seed * 1000000L
  private val window =
    if (mixed) PerfBench.MixedDocs else PerfBench.ContainerWindow
  val docs: Long =
    if (mixed) window
    else (base until base + window).count(i => PerfBench.Containers(Corpus.kindOf(i))).toLong

  /** Input files: four per core, so every core takes the same share. */
  private val files = 4 * cores

  def materialize(): Unit = {
    val idx = spark.range(base, base + window, 1, files).as[Long]
    val kept = if (mixed) idx else idx.filter(i => PerfBench.Containers(Corpus.kindOf(i)))
    kept.mapPartitions(_.map(Corpus.row)).write.mode("overwrite").parquet(input)
  }

  private def inputBytes: Long =
    Option(new File(input).listFiles).map(_.filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum).getOrElse(0L)

  private def rows: Dataset[DocRow] = spark.read.parquet(input).as[DocRow]

  private def rm(path: String): Unit = {
    def go(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(go))
      f.delete()
    }
    go(new File(path))
  }

  /** The workload's operation over the whole input, timed. */
  def rep(): PerfBench.Rep = {
    if (lastOut != null) { rm(lastOut._1); rm(lastOut._2) }
    repNo += 1
    val out = s"$work/out-$repNo"
    val metrics = s"$work/metrics-$repNo"
    listener.reset(sc)
    val gc0 = Stats.gcMs
    val st0 = Stats.stealS
    val jit0 = Stats.jitMs
    val t0 = System.nanoTime()
    run(out, metrics)
    val wall = (System.nanoTime() - t0) / 1e9
    val phase = listener.take(sc)
    val steal = Stats.stealS - st0
    val r = PerfBench.Rep(wall, wall - steal / cores, docs, phase, Stats.gcMs - gc0,
      steal, Stats.jitMs - jit0)
    System.err.println("[rep] " + Stats.json(Map(
      "wall_s" -> r.wall, "net_s" -> r.net, "docs" -> r.docs, "cpu_s" -> r.phase.cpuS,
      "task_s" -> r.phase.runS, "gc_s" -> r.gcMs / 1e3, "jit_s" -> r.jitMs / 1e3,
      "steal_s" -> r.steal, "tasks" -> r.phase.mainTaskCount,
      "max_over_median" -> r.phase.maxOverMedian)))
    if (mixed) writtenFiles = countFiles(new File(out)) + countFiles(new File(metrics))
    lastOut = (out, metrics)
    r
  }

  /** The output and lineage dirs of the last rep, kept for the check. */
  private var lastOut: (String, String) = null

  private def countFiles(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(countFiles).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) 1L else 0L

  private def run(out: String, metrics: String): Unit =
    if (mixed) graft.Main.run(Array(input, out, "spans", metrics), spark)
    else Pipeline.extract(rows).toDF().write.format("noop").mode("overwrite").save()

  /** Rows as the extraction stage sees them: the CLI hash-spreads them over
    * 32 partitions first, the container workload reads the files as laid.
    */
  private def laidOut: Dataset[DocRow] =
    if (mixed) rows.repartition(32, col("doc_id")) else rows

  private def timed(f: => Unit): (Double, Phase) = {
    listener.reset(sc)
    val t0 = System.nanoTime()
    f
    val wall = (System.nanoTime() - t0) / 1e9
    (wall, listener.take(sc))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The traced passes; returns the per-layer metrics. */
  def traced(reps: Seq[PerfBench.Rep], spansFile: String): Map[String, Double] = {
    val (scanWall, scan) = timed(noop(rows.toDF()))
    val (plainWall, plain) = timed(noop(Pipeline.extract(laidOut).toDF()))
    Trace.clear()
    val root = Trace.nextId()
    val traceT0 = System.nanoTime()
    val (docWall, _) = timed(noop(laidOut.mapPartitions(Trace.partition(_, root)).toDF()))
    val recs = Trace.all :+ SpanRec(root, 0L, "rep", traceT0, System.nanoTime(), "")
    Trace.write(recs, spansFile)
    val busy = Trace.busy(recs)
    val extractS = Trace.extractS(recs)
    val cnt = Trace.counts.c

    // the write layer: task time of the CLI rep beyond extraction alone
    val writeBusy =
      if (mixed) math.max(0.0, Stats.median(reps.map(_.phase.runS)) - plain.runS) else 0.0
    val cliWall = if (mixed) Stats.median(reps.map(_.wall)) else 0.0
    val last = reps.last.phase
    val write = Map(
      "engine.write.busy_s" -> writeBusy,
      "engine.write.bytes_out" -> (if (mixed) last.outputBytes.toDouble else 0.0),
      "engine.write.files" -> (if (mixed) writtenFiles.toDouble else 0.0),
      "engine.write.shuffle_bytes" -> (if (mixed) last.shuffleBytes.toDouble else 0.0))

    // the CLI rep's wall beyond the plain pass is the write's share of it
    val tracedWall = scanWall + docWall + (if (mixed) math.max(0.0, cliWall - plainWall) else 0.0)
    val accounted = scan.runS + busy.values.sum + writeBusy
    val routes = Trace.Routes.flatMap { r =>
      val n = cnt(s"parse.$r.docs").toDouble
      Seq(s"parse.$r.busy_s" -> busy(s"parse.$r"),
        s"parse.$r.docs" -> n,
        s"parse.$r.chars_out" -> cnt(s"parse.$r.chars_out").toDouble,
        s"parse.$r.embedded" -> cnt(s"parse.$r.embedded").toDouble,
        s"parse.$r.docs_per_core_s" -> (if (n == 0) 0.0 else n / extractS(r)))
    }
    Map(
      "spark.scan.busy_s" -> scan.runS,
      "spark.scan.rows" -> scan.inputRecords.toDouble,
      "spark.scan.bytes_in" -> inputBytes.toDouble,
      "engine.decode.busy_s" -> busy("engine.decode"),
      "engine.decode.bytes_out" -> cnt("engine.decode.bytes_out").toDouble,
      "mime.detect.busy_s" -> busy("mime.detect"),
      "mime.detect.calls" -> cnt("mime.detect.calls").toDouble,
      "zipx.detect.busy_s" -> busy("zipx.detect"),
      "zipx.detect.calls" -> cnt("zipx.detect.calls").toDouble,
      "ole2.detect.busy_s" -> busy("ole2.detect"),
      "ole2.detect.calls" -> cnt("ole2.detect.calls").toDouble,
      "engine.sink.busy_s" -> busy("engine.sink"),
      "engine.sink.spans" -> cnt("engine.sink.spans").toDouble,
      "trace.overhead" -> docWall / plainWall,
      "trace.unaccounted_share" -> (1.0 - accounted / (tracedWall * cores))
    ) ++ routes ++ write
  }

  /** Parquet files the last CLI rep wrote (data and lineage). */
  private var writtenFiles = 0L

  /** Docs and payload bytes per generator kind of the input. */
  def makeup(): Map[String, (Long, Long)] =
    rows.map(r => (Corpus.kindOf(Expect.indexOf(r.doc_id)),
        r.spans.map(s => if (s.text == null) 0L else s.text.length.toLong).sum))
      .collect().groupBy(_._1).map { case (k, v) => k -> (v.length.toLong, v.map(_._2).sum) }

  /** The untimed correctness pass. Returns (docs checked, failure notes). */
  def check(): (Long, Seq[String]) = {
    val digestCols = Seq(col("doc_id"), col("mime"), col("status"), col("n_chars"),
      sha2(to_json(col("spans")), 256).as("digest"))
    // the CLI's output of the last timed rep, or a fresh extraction
    val main: DataFrame =
      if (mixed) spark.read.parquet(lastOut._1) else Pipeline.extract(rows).toDF()
    // the same table read with a different split count
    val other = Pipeline.extract(rows.repartition(7)).toDF()
    val a = main.select(digestCols: _*).as[(String, String, String, Long, String)].collect()
    val b = other.select(col("doc_id"), sha2(to_json(col("spans")), 256))
      .as[(String, String)].collect().toMap
    val ids = rows.select("doc_id").as[String].collect()

    val fails = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[String]]
    def fail(id: String, note: String): Unit =
      fails.getOrElseUpdate(id, ArrayBuffer.empty) += note
    val seen = a.groupBy(_._1).map { case (k, v) => k -> v.length }
    ids.foreach { id =>
      val n = seen.getOrElse(id, 0)
      if (n != 1) fail(id, s"came out $n times")
    }
    a.foreach { case (id, mime, status, nChars, digest) =>
      val i = Expect.indexOf(id)
      val (mimes, statuses) = Expect(i)
      val kind = Corpus.kindOf(i)
      if (!mimes(mime) && !Expect.mimeUnchecked(i)) fail(id, s"($kind) mime $mime, expected ${mimes.mkString("|")}")
      if (!statuses(status)) fail(id, s"($kind) status $status, expected ${statuses.mkString("|")}")
      if (nChars > Expect.WriteLimit) fail(id, s"($kind) $nChars chars, over the write limit")
      if (!b.get(id).contains(digest)) fail(id, s"($kind) spans differ when read in 7 splits")
    }
    (ids.length.toLong, fails.map { case (id, n) => s"$id: ${n.mkString("; ")}" }.toSeq)
  }
}
