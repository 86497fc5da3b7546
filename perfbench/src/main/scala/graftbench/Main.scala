package graftbench

import java.io.{FileOutputStream, OutputStreamWriter, PrintWriter}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Closed-loop benchmark process: one client thread issues one op at a
  * time in this JVM until the measuring time is used up.
  *
  * Usage: Main <workload> <dataDir> <workDir> <seconds> <trace 0|1> <cores>
  *   <warmupOps>
  *
  * Writes JSON lines to <workDir>/records.jsonl: one `setup` record,
  * one `burnin` record, one `warmup` record per untimed warm-up op, one
  * `op` record per timed op (seconds, error,
  * the output for the oracle check) and an `end` record; with tracing,
  * the spans go to <workDir>/spans.jsonl. run.py turns them into
  * metrics.
  */
object Main {
  /** Timed ops per run at least, so the median has a middle. */
  val MinOps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, data, work, secondsS, traceS, coresS, warmupS) = args
    val trace = traceS == "1"
    val start = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val out = new PrintWriter(new OutputStreamWriter(
      new FileOutputStream(s"$work/records.jsonl"), "UTF-8"), true)

    val spark = SparkSession.builder()
      .master(s"local[$coresS]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", coresS.toInt * 2)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionUp = System.currentTimeMillis()
    val tracer = new Tracer(spark.sparkContext)
    val w = Workload(workload, spark, data, work, tracer)
    w.setup()
    val registered = System.currentTimeMillis()

    // untimed burn-in op: its time is part of set-up, its output is
    // checked like any op's
    val burnErr = attempt(w.op())
    val burnCheck = if (burnErr.isRight) attempt(w.check()) else Left("")
    w.release()
    val setupDone = System.currentTimeMillis()
    out.println(Json.obj(
      "kind" -> Json.str("setup"),
      "setup_s" -> Json.num((setupDone - start) / 1000.0),
      "session_s" -> Json.num((sessionUp - start) / 1000.0),
      "register_s" -> Json.num((registered - sessionUp) / 1000.0),
      "burnin_s" -> Json.num((setupDone - registered) / 1000.0),
      "input_rows" -> Json.num(w.inputRows),
      "spark_version" -> Json.str(spark.version),
      "jvm" -> Json.str(System.getProperty("java.vm.name") + " " +
        System.getProperty("java.runtime.version")),
      "master" -> Json.str(spark.sparkContext.master),
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576L)))
    out.println(opRecord("burnin", -1, traced = false, 0.0,
      burnErr.left.toOption.orElse(burnCheck.left.toOption), burnCheck, 0L,
      0.0, 0.0))

    // untimed, checked warm-up ops after set-up: the JIT compiles the
    // driver-side planning code over the first dozen ops, so timing
    // starts once the steepest part of that curve is behind
    for (i <- 0 until warmupS.toInt) {
      val t0 = System.nanoTime()
      val err = attempt(w.op())
      val dt = (System.nanoTime() - t0) / 1e9
      val c0 = System.nanoTime()
      val check = if (err.isRight) attempt(w.check()) else Left("")
      val checkS = (System.nanoTime() - c0) / 1e9
      w.release()
      out.println(opRecord("warmup", i, traced = false, dt,
        err.left.toOption.orElse(check.left.toOption), check, 0L, 0.0,
        checkS))
    }

    val budgetNs = (secondsS.toDouble * 1e9).toLong
    val loopStart = System.nanoTime()
    var i = 0
    def elapsed = System.nanoTime() - loopStart
    while ((elapsed < budgetNs || i < MinOps) && elapsed < 3 * budgetNs) {
      // the traced run alternates traced and untraced ops, so both
      // medians come from the same process and the same minutes
      val traced = trace && i % 2 == 0
      tracer.beginOp(i, traced)
      val cg0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      val err = attempt(w.op())
      val dt = (System.nanoTime() - t0) / 1e9
      val codegenMs = (CodeGenerator.compileTime - cg0) / 1e6
      val pinned = if (traced) 0L else w.pinnedBytes(spark)
      val c0 = System.nanoTime()
      val check = if (err.isRight) attempt(w.check()) else Left("")
      val checkS = (System.nanoTime() - c0) / 1e9
      tracer.endOp()
      w.release()
      out.println(opRecord("op", i, traced, dt,
        err.left.toOption.orElse(check.left.toOption), check, pinned,
        codegenMs, checkS))
      i += 1
    }
    if (trace) {
      val sp = new PrintWriter(new OutputStreamWriter(
        new FileOutputStream(s"$work/spans.jsonl"), "UTF-8"))
      tracer.dump(sp)
      sp.close()
    }
    out.println(Json.obj("kind" -> Json.str("end"),
      "peak_rss_mb" -> Json.num(vmHwmKb() / 1024.0)))
    out.close()
    spark.stop()
  }

  private def attempt[T](body: => T): Either[String, T] =
    try Right(body)
    catch {
      case e: Throwable =>
        Left(e.getClass.getName + ": " +
          String.valueOf(e.getMessage).take(500))
    }

  private def opRecord(kind: String, i: Int, traced: Boolean, seconds: Double,
      error: Option[String], check: Either[String, String],
      pinned: Long, codegenMs: Double, checkS: Double): String =
    Json.obj("kind" -> Json.str(kind), "i" -> Json.num(i.toLong),
      "traced" -> traced.toString, "seconds" -> Json.num(seconds),
      "error" -> error.fold("null")(Json.str),
      "output" -> check.getOrElse("null"),
      "pinned_b" -> Json.num(pinned), "codegen_ms" -> Json.num(codegenMs),
      "check_s" -> Json.num(checkS))

  /** Peak resident set of this process (VmHWM), in kB. */
  private def vmHwmKb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.stripPrefix("VmHWM:").trim.stripSuffix("kB").trim.toDouble
    }.getOrElse(0.0)
    finally src.close()
  }
}
