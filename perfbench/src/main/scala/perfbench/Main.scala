package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{BenchSession, SparkEntry, Tables}

/** The benchmark's JVM side. `run.py` generates the inputs, launches this
  * with the workload's settings, then checks the outputs it names against
  * DuckDB and prints the result. This side:
  *
  *  1. starts the session and registers the inputs `Setups` times
  *     (stopping the session in between), then warms up with one untimed
  *     operation;
  *  2. runs the workload's operation in a closed loop (one client, the
  *     next operation starts when the previous one returns) on `--data`
  *     until `--seconds` have passed and at least `MinOps` operations
  *     ran, finishing the current operation;
  *  3. with `--trace 1`, runs at least two traced and two plain
  *     operations and ends with the workload's stage probe;
  *  4. writes the run record (`--out`, JSON) with every operation's time,
  *     output hashes and, when traced, its per-layer counters.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mainEntered = System.currentTimeMillis()
    val jvmBoot = (mainEntered -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val work = opt("work")
    val traced = opt("trace") == "1"
    val seconds = opt("seconds").toDouble
    val wl: Workload = opt("workload") match {
      case "cohort_etl" => CohortEtl
      case "curate_session" => CurateSession
      case w => sys.error(s"unknown workload $w")
    }

    // ---- set-up: session start + input registration, several times (the
    // last session is the measured one), then one untimed warm-up operation
    // on the measured inputs, so the timed ones run with JIT, codegen and
    // file caches warm ---------------------------------------------------
    val dir = opt("data")
    var spark: SparkSession = null
    val sessionS = (1 to Setups).map { _ =>
      if (spark != null) spark.stop()
      val (s, t) = Clock.time {
        val s = BenchSession.build()
        wl.tables.foreach(t => Tables.load(s, dir, t))
        s
      }
      spark = s
      t
    }
    val warmS = Clock.time {
      wl.op(spark, dir, new OpCtx(spark, s"$work/warm", None))
      SparkEntry.resetShared(spark)
      sweep(spark)
    }._2

    // ---- closed loop ------------------------------------------------------
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val floorMs = mutable.ArrayBuffer.empty[Double]
    val firstOut = mutable.Map.empty[String, (String, Long)]
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    var i = 0
    def enough = elapsed >= seconds && (
      if (traced) ops.count(_("traced") == true) >= 2 && ops.count(_("traced") == false) >= 2
      else i >= MinOps)
    while (!enough) {
      // every operation starts from a collected heap, so a full collection
      // left over from the previous one does not land in its time
      System.gc()
      // traced runs order operations traced, plain, plain, traced, ... so
      // that warming up does not favour either kind
      val traceThis = traced && (i % 4 == 0 || i % 4 == 3)
      val ctx = new OpCtx(spark, s"$work/ops/$i", if (traceThis) tracer else None)
      def run() =
        try Right(wl.op(spark, dir, ctx))
        catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
      val (res, t, layers) =
        if (traceThis) {
          tracer.get.attach()
          try tracer.get.window(run()) finally tracer.get.detach()
        } else {
          val (r, t) = Clock.time(run())
          (r, t, Map.empty[String, Double])
        }
      // the per-query floor: a trivial query forced the same way, between
      // traced operations (outside their counters)
      if (traceThis)
        (1 to FloorQueries).foreach(_ => floorMs += Clock.time(Force(spark.range(1).toDF()))._2 * 1e3)
      sweep(spark)
      // hashes of written outputs, outside the timed region; the first
      // operation's files are kept for the DuckDB check
      val hashes = res.toOption.map(_.map { case (n, p) =>
        val h = Force(spark.read.parquet(p))
        if (!firstOut.contains(n)) firstOut(n) = (p, h)
        n -> h
      }).getOrElse(Map.empty)
      ops += Map("i" -> i, "t" -> t, "traced" -> traceThis, "hashes" -> hashes,
        "error" -> res.left.toOption,
        "layers" -> (if (traceThis) layers + ("sources.sink_s" -> ctx.sinkS) else layers))
      i += 1
    }
    val loopS = elapsed

    // reference outputs for the DuckDB check: the first operation's files;
    // every operation's outputs must hash the same as these
    val verify = wl.checks.map { case (n, oracle) =>
      n -> Map("path" -> firstOut.get(n).map(_._1), "hash" -> firstOut.get(n).map(_._2),
        "oracle" -> oracle, "sql" -> SparkEntry.oracleSql.get(oracle))
    }
    val probe = if (traced) wl.probe(spark, dir) else Map.empty[String, Double]
    SparkEntry.resetShared(spark)
    sweep(spark)

    val record = Map(
      "jvm_boot_s" -> jvmBoot, "session_s" -> sessionS, "warm_s" -> warmS, "loop_s" -> loopS,
      "ops" -> ops, "floor_ms" -> floorMs, "verify" -> verify, "probe" -> probe,
      "cores" -> spark.sparkContext.defaultParallelism,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.runtime.version"),
      "peak_rss_mb" -> vmHwmMb())
    spark.stop()
    Files.writeString(Paths.get(opt("out")), Json(record))
  }

  /** Set-ups per run (the reported set-up time takes their median). */
  val Setups = 3
  /** Timed operations per run, at least (the reported batch time is their
    * median). */
  val MinOps = 2
  val FloorQueries = 10

  /** Drop the non-shared blocks an operation left persisted (Bench's
    * per-query sweep); shared (pinned) frames stay. */
  def sweep(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => SparkEntry.isSharedRdd(id) }
      .values.foreach(_.unpersist(false))

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
