package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.{GraftSession, Json, SparkEntry}
import graft.pipeline.{CocktailPipeline, FixtureCocktailSource}
import graft.streaming.SalesStream
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Runs one perfbench workload in this JVM and writes `result.json` into
  * the run directory. Every timing is taken here, around calls into the
  * program's public API; nothing inside the program is instrumented.
  *
  *   Harness --workload W --dir D --seconds S --trace 0|1 [--warmup N] [--min-ops M] [--queries q1,q2]
  *
  * Set-up (session start plus the first, cold op) is timed from JVM start.
  * `N - 1` more untimed warm-up ops follow; measured ops then repeat until
  * `S` seconds have passed and at least `M` ops ran. With `--trace 1` every
  * second measured op runs with the engine and streaming listeners attached
  * and records spans and counters; the others stay untraced, so the same run
  * also yields the tracing overhead.
  */
object Harness {

  final case class Args(workload: String, dir: Path, seconds: Double, trace: Boolean,
      warmup: Int, minOps: Int, queries: Seq[String])

  /** One op's record. `steps` are the named sub-timings an end-to-end
    * metric needs (days, queries, micro-batches); `layers` are the traced
    * per-layer figures. */
  final class OpRecord(val k: Int, val traced: Boolean) {
    var wall = 0.0
    var error: Option[String] = None
    var confMutations = 0
    val steps = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, Any]
  }

  final class Ctx(val spark: SparkSession, val args: Args, val t0: Long) {
    val engine = new EngineListener
    val stream = new StreamListener
    val spans = new Spans(args.workload, t0)
    val inputs: Path = args.dir.resolve("inputs")
    var op = 0
    var traced = false

    def group(phase: String): String = s"${args.workload}/op$op/$phase"

    /** Time `body` under a job group naming workload, op and phase. The
      * group is also set as the `perfbench.group` local property, which
      * a streaming query's thread inherits when `body` starts it (the
      * query then overrides the job group with its run id). */
    def call[T](phase: String, parent: String = "op")(body: => T): (T, Double) = {
      val g = group(phase)
      spark.sparkContext.setJobGroup(g, s"perfbench ${args.workload} op $op $phase")
      spark.sparkContext.setLocalProperty(EngineListener.GroupProperty, g)
      val s = spans.now
      val t = System.nanoTime()
      try {
        val r = body
        (r, (System.nanoTime() - t) / 1e9)
      } finally {
        if (traced) spans.add(phase, s, spans.now, parent, op, g)
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.setLocalProperty(EngineListener.GroupProperty, null)
      }
    }

    /** Engine totals of this op's phases matching `phases` (prefix match). */
    def counters(phases: String*): Acc = {
      ListenerBusDrain(spark.sparkContext)
      engine.total(phases.map(group))
    }

    def opDir(): Path = Files.createDirectories(args.dir.resolve(s"ops/op-$op"))
  }

  val Decompose = "decompose."

  trait Workload {
    def prepare(c: Ctx): Unit = ()
    def op(c: Ctx, r: OpRecord): Unit
    /** Work after the timed ops: output checks and result dumps. */
    def finish(c: Ctx, ops: Seq[OpRecord]): Map[String, Any] = Map.empty
  }

  def pipeline(in: Path, stock: Path, buda: Path, lon: Path, ny: Path, wm: Path): CocktailPipeline =
    new CocktailPipeline(stock.toString, buda.toString, lon.toString, ny.toString, wm.toString,
      new FixtureCocktailSource(in.resolve("cocktails_api.json").toString))

  def feeds(dir: Path): (Path, Path, Path) =
    (dir.resolve("budapest.csv.gz"), dir.resolve("london_transactions.csv.gz"), dir.resolve("ny.csv.gz"))

  def freshWatermark(c: Ctx, at: Path): Path =
    Files.copy(c.inputs.resolve("last_update.txt"), at, StandardCopyOption.REPLACE_EXISTING)

  /** The stage calls `run` composes, timed one by one on the same inputs
    * (the watermark file is read, never written, by these calls). Their
    * phases start with `decompose.`, which keeps their jobs out of the
    * op's engine totals. */
  def decompose(c: Ctx, p: CocktailPipeline, dayPrefix: String, parent: String): Map[String, Double] = {
    val prefix = s"${Decompose}$dayPrefix"
    val (stock, tStock) = c.call(s"${prefix}barStock", parent) {
      val df = p.barStock(c.spark); df.queryExecution.toRdd.count(); df }
    val ((sales, _), tSales) = c.call(s"${prefix}sales", parent)(p.sales(c.spark))
    val (ck, tCk) = c.call(s"${prefix}cocktails", parent) {
      val df = p.cocktails(c.spark, sales); df.queryExecution.toRdd.count(); df }
    val poc = p.pocAnalysis(sales, ck, stock)
    val (_, tPlan) = c.call(s"${prefix}poc.plan", parent)(poc.queryExecution.executedPlan)
    val (_, tExec) = c.call(s"${prefix}poc.exec", parent)(poc.queryExecution.toRdd.count())
    val salesAcc = c.counters(s"${prefix}sales")
    Map("barStock.s" -> tStock, "sales.s" -> tSales, "sales.jobs" -> salesAcc.jobs.toDouble,
      "sales.cpu_s" -> salesAcc.cpuNs / 1e9, "sales.rows_scanned" -> salesAcc.inRecords.toDouble,
      "cocktails.s" -> tCk, "poc.plan_s" -> tPlan, "poc.exec_s" -> tExec)
  }

  /** One op = a full `CocktailPipeline.run` into a fresh warehouse. */
  object EtlFull extends Workload {
    def op(c: Ctx, r: OpRecord): Unit = {
      val dir = c.opDir()
      val (b, l, n) = feeds(c.inputs)
      val stock = c.inputs.resolve("bar_stock.csv")
      val wm = freshWatermark(c, dir.resolve("last_update.txt"))
      val wh = dir.resolve("warehouse")
      val (counts, t) = c.call("run")(pipeline(c.inputs, stock, b, l, n, wm).run(c.spark, wh.toString))
      r.wall = t
      r.steps("run") = t
      r.info("warehouse") = wh.toString
      r.info("watermark") = wm.toString
      r.info("counts") = counts
      if (c.traced) {
        val d = Files.createDirectories(dir.resolve("decompose"))
        val parts = decompose(c, pipeline(c.inputs, stock, b, l, n, freshWatermark(c, d.resolve("wm.txt"))), "", "op")
        parts.foreach { case (k, v) => r.layers(s"pipeline.$k") = v }
        val run = c.counters("run")
        r.layers("pipeline.run.s") = t
        r.layers("pipeline.run.jobs") = run.jobs.toDouble
        r.layers("pipeline.run.bytes_written") = run.outBytes.toDouble
        r.layers("pipeline.sales.rows_kept") = counts("global_sales").toDouble
        val stages = Seq("barStock.s", "sales.s", "cocktails.s", "poc.plan_s", "poc.exec_s")
          .map(k => r.layers(s"pipeline.$k")).sum
        r.layers("pipeline.run.sink_s") = t - stages
      }
    }
  }

  /** One op = seven consecutive daily runs into one warehouse, each over
    * that day's cumulative extract, the watermark advancing each day. */
  object EtlDaily extends Workload {
    val Days = 7
    def op(c: Ctx, r: OpRecord): Unit = {
      val dir = c.opDir()
      val stock = c.inputs.resolve("bar_stock.csv")
      val wm = freshWatermark(c, dir.resolve("last_update.txt"))
      val wh = dir.resolve("warehouse")
      val sums = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
      var kept = 0L
      val start = System.nanoTime()
      for (day <- 1 to Days) {
        val (b, l, n) = feeds(c.inputs.resolve(s"day-$day"))
        val p = pipeline(c.inputs, stock, b, l, n, wm)
        // the stage calls read the watermark `run` is about to advance, so
        // on a daily load they go first
        val parts = if (c.traced) decompose(c, p, s"day$day.", s"day$day") else Map.empty[String, Double]
        val (counts, t) = c.call(s"day$day.run")(p.run(c.spark, wh.toString))
        r.steps(s"day$day") = t
        kept += counts("global_sales")
        if (c.traced) {
          parts.foreach { case (k, v) => sums(k) += v }
          val run = c.counters(s"day$day.run")
          sums("run.s") += t
          sums("run.jobs") += run.jobs
          sums("run.bytes_written") += run.outBytes
          sums("run.sink_s") += t - Seq("barStock.s", "sales.s", "cocktails.s", "poc.plan_s", "poc.exec_s")
            .map(parts).sum
        }
      }
      r.wall = (System.nanoTime() - start) / 1e9
      r.info("warehouse") = wh.toString
      r.info("watermark") = wm.toString
      if (c.traced) {
        // per-day means, so figures compare with etl_full's single run
        sums.foreach { case (k, v) =>
          r.layers(s"pipeline.$k") = if (k.endsWith("rows_scanned")) v else v / Days }
        r.layers("pipeline.sales.rows_kept") = kept.toDouble
        r.layers("pipeline.day7_over_day1") = r.steps("day7") / r.steps("day1")
      }
    }
  }

  /** One op = one pass over the fixed query list at the generated
    * scale: construct, plan and execute each query. The warm-up pass
    * writes every result instead of counting it; those files are what the
    * output check compares with the oracle. */
  object QueryMix extends Workload {
    var sfDir = ""
    val digests = mutable.LinkedHashMap.empty[String, String]
    def artifactTables(c: Ctx): Int =
      c.spark.catalog.listTables().collect().count(_.name.startsWith("graft_"))

    override def prepare(c: Ctx): Unit = {
      sfDir = c.inputs.resolve("sf").toString
      c.args.queries.foreach(q => require(SparkEntry.queries.contains(q), s"unknown query $q"))
    }

    def op(c: Ctx, r: OpRecord): Unit = {
      val start = System.nanoTime()
      for (q <- c.args.queries) {
        val (df, tc) = c.call(s"$q.construct")(SparkEntry.queries(q)(c.spark, sfDir))
        r.layers(s"construct.$q") = tc
        if (c.op == 0) {
          val (_, tw) = c.call(s"$q.write") {
            df.write.parquet(c.args.dir.resolve(s"results/$q").toString) }
          r.steps(q) = tc + tw
        } else {
          val (_, tp) = c.call(s"$q.plan")(df.queryExecution.executedPlan)
          val (n, te) = c.call(s"$q.exec")(df.queryExecution.toRdd.count())
          r.steps(q) = tc + tp + te
          r.info(s"rows.$q") = n
          if (c.traced) {
            val a = c.counters(s"$q.")
            Seq("construct_s" -> tc, "plan_s" -> tp, "exec_s" -> te, "jobs" -> a.jobs.toDouble,
              "cpu_s" -> a.cpuNs / 1e9, "shuffle_bytes" -> (a.shRead + a.shWrite).toDouble)
              .foreach { case (k, v) =>
                r.layers(s"operators.$k") = r.layers.getOrElse(s"operators.$k", 0.0) + v
                r.layers(s"query.$q.$k") = v
              }
            digests(q) = digest(df.queryExecution.executedPlan.toString)
          }
        }
      }
      r.wall = (System.nanoTime() - start) / 1e9
    }

    /** Plan text without expression ids, hashed: equal digests mean the
      * same physical plan. */
    def digest(plan: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(plan.replaceAll("#\\d+L?", "").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)

    override def finish(c: Ctx, ops: Seq[OpRecord]): Map[String, Any] =
      Map("results" -> c.args.dir.resolve("results").toString, "plan_digests" -> digests.toMap,
        "oracle_sql" -> c.args.queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
  }

  /** One op = the daily files landing, one city file per day, into
    * `SalesStream.incrementalPoc` over static dimensions pinned in memory
    * (as q147 pins them); each day lands only after the previous
    * micro-batch returned, and two late sentinels flush the last windows.
    * The dimensions are generated inputs (`inputs/dims`), so the pipeline
    * code does not run in this workload. */
  object StreamPoc extends Workload {
    val Days = 7
    val Cities = Seq("budapest", "london", "new york")
    val Sentinel = "zzz-sentinel"
    var stock: DataFrame = _
    var ck: DataFrame = _
    val tables = mutable.LinkedHashMap.empty[Int, String]

    override def prepare(c: Ctx): Unit = {
      stock = c.spark.read.parquet(c.inputs.resolve("dims/bar_stock.parquet").toString).persist()
      ck = c.spark.read.parquet(c.inputs.resolve("dims/cocktails.parquet").toString).persist()
      stock.count(); ck.count()
    }

    def land(src: Path, dstDir: Path, name: String): Unit = {
      val tmp = dstDir.getParent.resolve(s".$name.tmp")
      Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, dstDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }

    def op(c: Ctx, r: OpRecord): Unit = {
      val dir = c.opDir()
      val dirs = Cities.map(city => city -> Files.createDirectories(dir.resolve(s"in/${city.replace(' ', '_')}")))
      val table = s"perfbench_stream_${c.op}"
      val stream = dirs.map { case (city, d) => SalesStream.feed(c.spark, d.toString, city) }
        .reduce(_ unionByName _)
      val writer = SalesStream.incrementalPoc(stream, ck, stock, watermark = "1 day")
        .writeStream.format("memory").queryName(table).outputMode("append")
        .option("checkpointLocation", dir.resolve("checkpoint").toString)
      val start = System.nanoTime()
      val (q, _) = c.call("start")(writer.start())
      try {
        for (day <- 1 to Days) {
          val (_, t) = c.call(s"day$day") {
            dirs.foreach { case (city, d) =>
              land(c.inputs.resolve(s"day-$day/${city.replace(' ', '_')}/day$day.csv.gz"), d, s"day$day.csv.gz")
            }
            q.processAllAvailable()
          }
          r.steps(s"day$day") = t
        }
        val buda = dirs.head._2
        for ((date, i) <- Seq("2021-06-01", "2021-09-01").zipWithIndex) {
          c.call(s"flush$i") {
            val f = buda.getParent.resolve(s".late$i.csv")
            Files.write(f, s",TS,ital,k\n0,$date 00:00:00,$Sentinel,1.0\n".getBytes("UTF-8"))
            Files.move(f, buda.resolve(s"late$i.csv"), StandardCopyOption.ATOMIC_MOVE)
            q.processAllAvailable()
          }
        }
        r.wall = (System.nanoTime() - start) / 1e9
      } finally c.call("stop")(q.stop())
      tables(c.op) = table
    }

    /** Each op's emitted rows, sentinels excluded, for the output check. */
    override def finish(c: Ctx, ops: Seq[OpRecord]): Map[String, Any] = {
      val out = tables.map { case (k, t) =>
        val path = c.args.dir.resolve(s"results/stream-op-$k").toString
        c.spark.table(t).filter(col("drink") =!= Sentinel).write.parquet(path)
        k.toString -> path
      }
      Map("stream_results" -> out.toMap)
    }
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), Paths.get(m("dir")).toAbsolutePath, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("warmup", "1").toInt, m.getOrElse("min-ops", "1").toInt,
      m.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil))
  }

  /** Machine-wide CPU accounting (`/proc/stat`, all CPUs) and this
    * process's CPU time, so an op's wall time can be read against the CPU
    * the host actually gave the machine during it (`steal_s` is time the
    * hypervisor ran something else while this machine's CPUs were ready). */
  final case class HostClock(fields: Map[String, Double]) {
    def minus(o: HostClock): Map[String, Double] = fields.map { case (k, v) => k -> (v - o.fields(k)) }
  }
  object HostClock {
    private val tick = 100.0 // USER_HZ
    def sample(): HostClock = {
      val src = scala.io.Source.fromFile("/proc/stat")
      val cpu = try src.getLines().next().split("\\s+").drop(1).map(_.toDouble / tick) finally src.close()
      val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
      HostClock(Map("busy_s" -> (cpu(0) + cpu(1) + cpu(2) + cpu(5) + cpu(6)), "idle_s" -> (cpu(3) + cpu(4)),
        "steal_s" -> cpu(7), "process_cpu_s" -> os.getProcessCpuTime / 1e9))
    }
  }

  def confSnapshot(s: SparkSession): Map[String, String] = s.conf.getAll

  def runOp(c: Ctx, w: Workload, k: Int, traced: Boolean): OpRecord = {
    val r = new OpRecord(k, traced)
    c.op = k
    c.traced = traced
    val before = confSnapshot(c.spark)
    val host0 = HostClock.sample()
    if (traced) {
      c.stream.progress.clear()
      c.spark.sparkContext.addSparkListener(c.engine)
      c.spark.streams.addListener(c.stream)
    }
    val s = c.spans.now
    try w.op(c, r)
    catch { case NonFatal(e) => r.error = Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
    finally {
      if (traced) {
        c.spans.add("op", s, c.spans.now, "", k, c.group(""))
        ListenerBusDrain(c.spark.sparkContext)
        c.spark.sparkContext.removeSparkListener(c.engine)
        c.spark.streams.removeListener(c.stream)
      }
    }
    HostClock.sample().minus(host0).foreach { case (k, v) => r.info(s"host.$k") = v }
    val after = confSnapshot(c.spark)
    r.confMutations = (before.keySet ++ after.keySet).count(key => before.get(key) != after.get(key))
    if (traced && r.error.isEmpty) {
      val a = c.engine.total(Seq(c.group("")), Seq(c.group(Decompose)))
      a.fields.foreach { case (n, v) => r.layers(s"engine.$n") = v }
      r.layers("engine.idle_core_s") = r.wall * c.spark.sparkContext.defaultParallelism - a.runMs / 1e3
      r.layers("engine.conf_mutations") = r.confMutations
      c.stream.summary().foreach { case (k, v) => r.layers(s"streaming.$k") = v }
    }
    r
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmToMain = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val t0 = System.nanoTime()
    val spark = GraftSession.get()
    val c = new Ctx(spark, args, t0)
    val w = args.workload match {
      case "etl_full" => EtlFull
      case "etl_daily" => EtlDaily
      case "query_mix" => QueryMix
      case "stream_poc" => StreamPoc
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val sessionS = (System.nanoTime() - t0) / 1e9
    val artifactsBefore = if (w eq QueryMix) QueryMix.artifactTables(c) else 0
    val tPrep = System.nanoTime()
    w.prepare(c)
    val prepareS = (System.nanoTime() - tPrep) / 1e9
    val warm = mutable.ArrayBuffer(runOp(c, w, 0, traced = false))
    val setupS = jvmToMain + (System.nanoTime() - t0) / 1e9
    val artifactsBuilt = if (w eq QueryMix) QueryMix.artifactTables(c) - artifactsBefore else 0
    // further untimed warm-up ops: the first ops after the cold one still
    // share the cores with JIT compilation
    while (warm.size < args.warmup) warm += runOp(c, w, warm.size, traced = false)

    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val mStart = System.nanoTime()
    def elapsed = (System.nanoTime() - mStart) / 1e9
    // traced runs: untraced, traced, untraced at least, so the overhead
    // ratio need not use the first, least warm, op
    val minOps = math.max(args.minOps, if (args.trace) 3 else 1)
    while (ops.size < minOps || elapsed < args.seconds)
      ops += runOp(c, w, args.warmup + ops.size, traced = args.trace && ops.size % 2 == 1)
    val measured = elapsed
    val fin = try w.finish(c, ops.toSeq) catch {
      case NonFatal(e) => Map("finish_error" -> s"${e.getClass.getName}: ${e.getMessage}".take(500))
    }

    val result = Map(
      "workload" -> args.workload, "trace" -> args.trace, "peak_rss_mb" -> peakRssMb(),
      "cores" -> spark.sparkContext.defaultParallelism,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm_to_main_s" -> jvmToMain, "session_s" -> sessionS, "prepare_s" -> prepareS,
      "setup_s" -> setupS,
      "measured_s" -> measured, "artifacts_built" -> artifactsBuilt,
      "warmup" -> warm.map(record).toSeq, "ops" -> ops.map(record).toSeq,
      "spans" -> c.spans.all.map(s => Map("name" -> s.name, "start" -> s.start, "end" -> s.end,
        "parent" -> s.parent, "op" -> s.op, "workload" -> s.workload, "group" -> s.group)).toSeq
    ) ++ fin
    Files.writeString(args.dir.resolve("result.json"), js(result))
    spark.stop()
  }

  /** The process's resident-set high-water mark (Linux `VmHWM`). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  def record(r: OpRecord): Map[String, Any] = Map("k" -> r.k, "traced" -> r.traced,
    "wall_s" -> r.wall, "error" -> r.error.orNull, "conf_mutations" -> r.confMutations,
    "steps" -> r.steps.toMap, "layers" -> r.layers.toMap, "info" -> r.info.toMap)

  def js(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => js(x)
    case s: String => Json.q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Float => js(n.toDouble)
    case n @ (_: Int | _: Long) => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => Json.q(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(js).mkString("[", ",", "]")
    case o => Json.q(o.toString)
  }
}
