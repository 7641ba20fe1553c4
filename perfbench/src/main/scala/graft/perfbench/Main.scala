package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.DocGraph
import graft.ingest.TaggedText
import graft.query.AnswerService
import graft.query.AnswerService.{AnswerRequest, AnswerResponse}
import graft.resolve.EntityResolution
import graft.sinks.Neo4jCsv

/** The benchmark JVM: one workload, one closed-loop client.
  *
  * `Main --workload W --inputs DIR --work DIR --seconds N --trace 0|1
  *       --out FILE`
  *
  * Order of a run: two timed set-ups (their median is reported), a timed
  * warm-up, then whole rounds of the workload's operation back to back
  * until N seconds have passed, then the untimed output check. Writes one
  * JSON object of metrics to FILE; `run.py` makes the inputs and starts
  * this JVM (see README.md).
  */
object Main {

  /** One workload. `setup(i)` builds the i-th copy of the build-once state
    * (the last one is served); `warmUp()` runs operations the measurement
    * never repeats, so that JIT and Spark codegen are warm before it
    * starts; `op(i)` is the i-th timed operation, and
    * the measured op count is always a multiple of `round`; `check`
    * returns the number of operations whose output was wrong.
    */
  trait Workload {
    def round: Int
    def setup(i: Int): Unit
    def warmUp(): Unit
    def op(i: Int): Unit
    def check(): Int
  }

  final case class Opts(workload: String, inputs: String, work: String,
                        seconds: Double, trace: Boolean, out: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Opts(req("--workload"), req("--inputs"), req("--work"),
      req("--seconds").toDouble, req("--trace") == "1", req("--out"))
  }

  /** Set-ups per run. Two, not more: a run of either workload already takes
    * about a minute, and the benchmark's runs must fit in an hour.
    */
  val Setups = 2

  /** The engine's standard local session (as `graft.Verify` builds it),
    * with every directory Spark writes to under the run's work dir.
    */
  def session(work: String): SparkSession = {
    // one core is left to the driver thread (planning, driver kernels: the
    // closed-loop client runs it alongside the tasks), JIT and GC, so that
    // the run does not measure the OS scheduler
    val cpus = math.max(1, Runtime.getRuntime.availableProcessors - 1)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val started = System.nanoTime()

  /** Progress line on stderr (stdout stays free). */
  def log(msg: String): Unit =
    System.err.println(
      f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (Python's statistics "inclusive" rule). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val v = xs.sorted
    if (v.isEmpty) Double.NaN
    else {
      val pos = q * (v.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, v.size - 1)
      v(lo) + (v(hi) - v(lo)) * (pos - lo)
    }
  }

  /** Runs `tasks` on `threads` driver threads; rethrows the first failure. */
  def inParallel[T](threads: Int)(tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(tasks.map(t => Future(t()))),
      Duration.Inf)
    finally pool.shutdown()
  }

  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally st.close()
    }

  /** Mean files per (bucketed table directory, bucket id) in the warehouse;
    * a bucketed part file's name ends in `_<bucket>.c<n>...`.
    */
  def filesPerBucket(warehouse: Path): Double = {
    val Bucket = """part-.*_(\d{5})\.c\d+.*""".r
    val counts = files(warehouse).flatMap { p =>
      p.getFileName.toString match {
        case Bucket(b) => Some(p.getParent.toString -> b)
        case _ => None
      }
    }.groupBy(identity).values.map(_.size.toDouble)
    if (counts.isEmpty) 0.0 else counts.sum / counts.size
  }

  def main(args: Array[String]): Unit = {
    // halt, not return: Spark's shutdown would only delay the exit, and the
    // work dir is deleted by run.py
    val code = try { run(parse(args)); 0 } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    Runtime.getRuntime.halt(code)
  }

  def run(o: Opts): Unit = {
    val spark = session(o.work)
    val spans = new Spans
    // first job of the session: executor start-up, codegen, reader init
    spark.range(1000).selectExpr("sum(id) s").collect()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime.toDouble
    val bootS = (spans.now() - jvmStart) / 1000
    val listener = if (o.trace) Some(new LayerListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)

    val w: Workload = o.workload match {
      case "qa_answer" => new QaAnswer(spark, o.inputs)
      case "er_crud_days" => new ErCrudDays(spark, o.inputs, o.work, spans)
      case other => sys.error(s"unknown workload $other")
    }
    log(f"boot $bootS%.2f s")
    val setupS = (1 to Setups).map { i =>
      val t0 = spans.now()
      w.setup(i)
      val sec = (spans.now() - t0) / 1000
      log(f"setup $i: $sec%.2f s")
      sec
    }
    val warmS = {
      val t0 = spans.now()
      spans("warm_up")(w.warmUp())
      (spans.now() - t0) / 1000
    }
    log(f"warm-up: $warmS%.2f s")

    listener.foreach(_.phase = "measure")
    // process CPU time (all JVM threads: driver, executors, GC, JIT) does
    // not count the time the host takes the CPUs away, so it stays steady
    // where wall time does not
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    import java.lang.management.{ManagementFactory => mf}
    def gcMs = mf.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def jitMs = mf.getCompilationMXBean.getTotalCompilationTime
    val (gc0, jit0) = (gcMs, jitMs)
    val opMs = mutable.ArrayBuffer[Double]()
    val opIntervals = mutable.ArrayBuffer[Interval]()
    var failed = 0
    val deadline = spans.now() + o.seconds * 1000
    while (opMs.isEmpty || opMs.size % w.round != 0 ||
        spans.now() < deadline) {
      val t0 = spans.now()
      try spans("op")(w.op(opMs.size))
      catch {
        case e: Exception =>
          failed += 1
          log(s"operation ${opMs.size} failed: $e")
          e.printStackTrace()
      }
      val t1 = spans.now()
      opMs += t1 - t0
      opIntervals += Interval(t0, t1)
    }
    val opCpuMs = (os.getProcessCpuTime - cpu0) / 1e6 / opMs.size
    val (gcS, jitS) = ((gcMs - gc0) / 1e3, (jitMs - jit0) / 1e3)
    log(f"measured: GC $gcS%.2f s, JIT compilation $jitS%.2f s; op ms " +
      opMs.map(x => f"$x%.0f").mkString(" "))
    log(f"${opMs.size} operations, median ${median(opMs.toSeq)}%.1f ms, " +
      "round means " + opMs.grouped(w.round).map(r => f"${r.sum / r.size}%.1f")
        .mkString(" ") + " ms")
    listener.foreach(_.phase = "check")

    val wrong = try w.check() catch {
      case e: Exception =>
        log(s"output check failed: $e")
        e.printStackTrace()
        opMs.size
    }
    failed = math.min(opMs.size, failed + wrong)
    log(s"output check: $wrong wrong")

    val storeMb = (files(Paths.get(o.work, "warehouse")) ++
      files(Paths.get(o.work, "out"))).map(Files.size(_)).sum / 1e6
    val endToEnd = Map(
      "setup_s" -> (bootS + median(setupS) + warmS),
      "op_mean_ms" -> opMs.sum / opMs.size,
      "op_cpu_ms" -> opCpuMs,
      "store_mb" -> storeMb)
    val info = Map("boot_s" -> bootS, "setup_build_s" -> median(setupS),
      "warm_up_s" -> warmS, "measured_gc_s" -> gcS,
      "measured_jit_s" -> jitS,
      "ops" -> opMs.size.toDouble, "op_p50_ms" -> median(opMs.toSeq))
    val perLayer = listener.map { l =>
      l.drain(spark)
      layerMetrics(l, spans, opIntervals.toSeq, Paths.get(o.work, "warehouse"))
    }.getOrElse(Map.empty[String, Double])

    Report.write(o.out, correct = failed == 0, attempted = opMs.size,
      failed = failed, endToEnd = endToEnd, perLayer = perLayer,
      info = info, spans = spans)
  }

  /** Span names whose median duration the traced run reports. */
  val SpanNames: Seq[String] = Seq("replay", "mor_read", "publish")

  /** Per-layer metrics over the measured operations, per operation (peak
    * memory is the maximum over all of them).
    */
  def layerMetrics(l: LayerListener, spans: Spans, ops: Seq[Interval],
                   warehouse: Path): Map[String, Double] = {
    val n = ops.size.toDouble
    val out = mutable.Map[String, Double]()
    Layers.names.foreach { layer =>
      val a = l.acc(layer)
      out(s"$layer.jobs") = a.jobs / n
      out(s"$layer.stages") = a.stages / n
      out(s"$layer.tasks") = a.tasks / n
      out(s"$layer.task_s") = a.taskMs / 1000 / n
      out(s"$layer.job_wall_s") =
        Interval.unionLength(a.jobIntervals) / 1000 / n
      out(s"$layer.shuffle_read_mb") = a.shuffleRead / 1e6 / n
      out(s"$layer.shuffle_write_mb") = a.shuffleWrite / 1e6 / n
      out(s"$layer.spill_mb") = a.spill / 1e6 / n
      out(s"$layer.files_written") = a.filesWritten / n
      out(s"$layer.write_mb") = a.written / 1e6 / n
      out(s"$layer.peak_task_mem_mb") = a.peakMem / 1e6
    }
    out("total.task_s") = l.totalTaskMs / 1000 / n
    val jobs = l.jobIntervals
    out("driver_s") = ops.map { op =>
      op.length - Interval.unionLength(Interval.clip(jobs, op))
    }.sum / 1000 / n
    out("jobs_per_op") = Layers.names.map(l.acc(_).jobs).sum / n
    out("store.files_per_bucket") = filesPerBucket(warehouse)
    val all = spans.all
    // only the measured operations' spans, not the warm-up's
    val opIds = all.filter(_.name == "op").map(_.id).toSet
    SpanNames.foreach { name =>
      val xs = all.filter(s => s.name == name && s.parent.exists(opIds))
        .map(_.interval.length)
      out(s"span.${name}_s") = if (xs.isEmpty) 0.0 else median(xs) / 1000
    }
    out("span.op_self_s") =
      all.filter(_.name == "op").map(spans.selfMs).sum / 1000 / n
    out.toMap
  }
}

/** The run's result file, written once at the end and read by run.py. */
object Report {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def str(v: String): String =
    "\"" + v.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${num(v)}" }
      .mkString("{", ", ", "}")

  def write(path: String, correct: Boolean, attempted: Int, failed: Int,
            endToEnd: Map[String, Double], perLayer: Map[String, Double],
            info: Map[String, Double], spans: Spans): Unit = {
    val spanJson = spans.all.map { s =>
      val parent = s.parent.map(_.toString).getOrElse("null")
      s"""{"id": ${s.id}, "name": ${str(s.name)}, "parent": $parent, """ +
        s""""start_ms": ${num(s.interval.start)}, "end_ms": ${
          num(s.interval.end)}}"""
    }.mkString("[", ",\n", "]")
    val json =
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed,
         |"end_to_end": ${obj(endToEnd)},
         |"per_layer": ${obj(perLayer)},
         |"info": ${obj(info)},
         |"spans": $spanJson}
         |""".stripMargin
    Files.write(Paths.get(path), json.getBytes("UTF-8"))
  }
}

/** `qa_answer`: the seeded directive stream through `AnswerService.answer`
  * over the served bucketed binding (`DocGraph.bucketedServed`, a fresh
  * table prefix per set-up). The reference is the same request answered
  * over the unbucketed synthetic binding.
  */
final class QaAnswer(s: SparkSession, inputs: String) extends Main.Workload {
  private val sf = s"$inputs/sf"
  private val requests = scala.io.Source.fromFile(s"$inputs/requests.txt",
    "UTF-8").getLines().filter(_.nonEmpty).toVector
  private var served: DocGraph = _
  private val answered = mutable.ArrayBuffer[(String, AnswerResponse)]()

  val round = 18 // one request of every family, two of family 13

  // the stream's last round warms up; the timed operations cycle through
  // the others
  private val (measured, warming) = requests.splitAt(requests.size - round)
  require(measured.nonEmpty && measured.size % round == 0,
    s"the request stream has ${requests.size} lines, not whole rounds")

  def setup(i: Int): Unit =
    served = DocGraph.bucketedServed(s, sf, s"pb_qa$i")

  // four at a time, as the check below: the warm-up is not measured
  def warmUp(): Unit =
    Main.inParallel(4)(warming.map(r =>
      () => AnswerService.answer(served, AnswerRequest(r))))

  def op(i: Int): Unit = {
    val r = measured(i % measured.size)
    answered += r -> AnswerService.answer(served, AnswerRequest(r))
  }

  // the reference answers come four at a time: the check is untimed, and
  // these families never reach the lifecycle queries that need one serving
  // thread
  def check(): Int = {
    val plain = DocGraph.synthetic(s, sf)
    val want = Main.inParallel(4)(answered.map(_._1).distinct.toSeq.map(r =>
      () => r -> AnswerService.answer(plain, AnswerRequest(r)))).toMap
    val bad = answered.filter { case (r, got) => got != want(r) }
    bad.take(3).foreach { case (r, got) =>
      Main.log(s"wrong answer to [$r]: ${got.rows} rows, want " +
        s"${want(r).rows}")
    }
    bad.size
  }
}

/** `er_crud_days`: back-to-back replays of the tagged term export's
  * day-advance lifecycle with the MOR store
  * (`EntityResolution.ingestedMultidayCrudServedMor`): reset, then the
  * seeded insert, update and delete days, each reading only its own class
  * directory (batch-scoped `daySource`), with the sidecars folded after the
  * update day; then the served mapping is read back (the MOR
  * read: base ∪ sidecars − tombstones) and published as the Neo4j
  * `ALIAS_OF` CSV. A set-up builds the day-0 snapshot under a fresh source
  * key (snapshots are keyed by source) by running the insert day.
  */
final class ErCrudDays(s: SparkSession, inputs: String, work: String,
                       spans: Spans) extends Main.Workload {
  import s.implicits._

  private val days: Map[String, Int] = {
    val txt = new String(Files.readAllBytes(Paths.get(inputs, "days.json")),
      "UTF-8")
    """"(\w+)":\s*(\d+)""".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toInt).toMap
  }
  private val dayOps = Seq("insert", "update", "delete").map(op => op -> days(op))
  // fold the sidecars once, after the update day: a fixed point keeps the
  // store's shape, and so `store_mb`, the same from seed to seed
  private val compactAfter = Set(1)
  private val terms = s"$inputs/terms"
  private def fullIngest(): DataFrame =
    TaggedText.ingest(s, s"$terms/*/*/*.txt")
  private val daySource: Int => DataFrame =
    k => TaggedText.ingest(s, s"$terms/cls$k/*/*.txt")

  private var sourceKey: String = _
  private val results = mutable.ArrayBuffer[(Set[(String, String)], String)]()

  val round = 1

  private def pairs(df: DataFrame): Set[(String, String)] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toSet

  private def replay(ops: Seq[(String, Int)], compact: Set[Int]): DataFrame =
    EntityResolution.ingestedMultidayCrudServedMor(s, () => fullIngest(),
      sourceKey, 24, 25, prefix = "pb_tag_mor", ops = ops,
      daySource = Some(daySource), compactAfterOps = compact)

  // from-scratch exact ER over the net term universe (the IngestedErSpec
  // recipe): the delete class gone, the update class re-embedded
  private def reference(): Set[(String, String)] = {
    val universe = EntityResolution.distinctValues(fullIngest(),
      Seq("keywords"))
      .select(col("value").as("term"),
        conv(substring(md5(col("value")), 1, 15), 16, 10).cast("long")
          .as("vec_id"),
        EntityResolution.termEmbedding(col("value")).as("embedding"))
      .filter(col("vec_id") % 3 =!= days("delete"))
      .withColumn("embedding", when(col("vec_id") % 3 === days("update"),
        reverse(col("embedding"))).otherwise(col("embedding")))
    val want = pairs(EntityResolution.aliasMapping(universe, 24, 25))
    require(want.exists { case (a, b) => a != b },
      "the reference mapping merges nothing")
    want
  }

  def setup(i: Int): Unit = {
    sourceKey = s"$terms#setup$i"
    replay(dayOps.take(1), Set.empty).collect()
  }

  // no warm-up: a replay runs about 80 jobs and is bound by their
  // scheduling, not by cold code; a warm-up replay (15 s a run) left the
  // next replay's time and spread as they were
  def warmUp(): Unit = ()

  def op(i: Int): Unit = {
    val df = spans("replay")(replay(dayOps, compactAfter))
    val got = spans("mor_read")(pairs(df))
    val out = s"$work/out/alias_of_$i"
    spans("publish")(Neo4jCsv.writeRels(
      got.filter { case (a, b) => a != b }.toSeq.toDF("src", "dst")
        .withColumn("rel_type", lit("ALIAS_OF")),
      "ALIAS_OF", "Keyword", "Keyword", out))
    results += got -> out
  }

  def check(): Int = {
    val want = reference()
    val wantAlias = want.filter { case (a, b) => a != b }
    results.count { case (got, csv) =>
      val published = pairs(s.read.option("header", "true")
        .option("escape", "\"").csv(csv))
      val ok = got == want && published == wantAlias
      if (!ok) Main.log(s"replay differs from from-scratch ER " +
        s"(${got.size} vs ${want.size} rows, ${published.size} vs " +
        s"${wantAlias.size} published)")
      !ok
    }
  }
}
