package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM: set up, run one workload's ops in a closed loop
  * (each op starts when the previous one has returned), and write the raw
  * measurements as JSON for `run.py` to check and summarise.
  *
  * Arguments (all required): --workload --in --out --result --seconds
  * --trace 0|1 --cores --t0 (epoch ms at process launch).
  */
object Main {

  final case class OpRec(id: Int, pass: Int, k: Int, startNs: Long, wallNs: Long, traced: Boolean, error: String)

  def session(cores: Int): SparkSession = {
    val s = graft.EngineIO.configure(
      SparkSession.builder()
        .appName("perfbench")
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", "graft.GraftExtensions")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val in = a("in")
    val workload = Workloads(a("workload"), in)
    val outRoot = a("out")
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"

    // One set-up, timed from process launch: JVM start, class loading, the
    // first SparkContext, and the static inputs read, cached and counted.
    val spark = session(cores)
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val static = workload.register(spark, in)
    val setupS = (System.currentTimeMillis() - a("t0").toLong) / 1000.0

    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val ctx = new Ctx(spark, in, tracer, static)
    val ops = ArrayBuffer.empty[OpRec]
    // untraced: at least three ops so the ops after the first have a median;
    // traced: whole passes alternate untraced/traced, so the traced and the
    // untraced ops do the same work; at least three passes (untraced, traced,
    // untraced, so a traced pass has untraced ones on both sides) and five ops
    val minOps = if (traced) 5 else 3
    val startNs = System.nanoTime()
    // the measured window opens when the cold first op has returned
    var deadline = Long.MaxValue
    var opId = 0
    var pass = 0
    while (System.nanoTime() < deadline || opId < minOps || (traced && pass < 3)) {
      tracer.active = traced && pass % 2 == 1
      for (k <- 0 until workload.opsPerPass) {
        opId += 1
        tracer.beginOp(opId)
        val out = s"$outRoot/op-$opId"
        val prev = if (k > 0) Some(s"$outRoot/op-${opId - 1}") else None
        val t0 = System.nanoTime()
        val error =
          try {
            tracer.span("op")(workload.op(ctx, k, out, prev))
            null
          } catch {
            case e: Throwable =>
              System.err.println(s"[perfbench] op $opId failed")
              e.printStackTrace()
              e.toString
          }
        ops += OpRec(opId, pass, k, t0 - startNs, System.nanoTime() - t0, tracer.active, error)
        if (opId == 1) deadline = System.nanoTime() + (seconds * 1e9).toLong
      }
      pass += 1
    }
    tracer.active = false

    // traced run only: stage attribution by prefix differencing, three times
    val prefix = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    var extra = Map.empty[String, Long]
    if (traced) {
      tracer.beginOp(-1)
      for (_ <- 0 until 3; (name, df) <- workload.prefixes(ctx))
        prefix.getOrElseUpdate(name, ArrayBuffer.empty) += Workloads.noopTime(df)
      extra = workload.extraCounts(ctx)
    }
    Counters.drain(sc)

    val rss = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    def s(ns: Long): Double = ns / 1e9
    val result = Map(
      "setup_s" -> setupS,
      "cores" -> cores,
      "peak_rss_kb" -> rss,
      "ops" -> ops.toSeq.map(o => Map(
        "id" -> o.id, "pass" -> o.pass, "k" -> o.k, "start_s" -> s(o.startNs),
        "wall_s" -> s(o.wallNs), "traced" -> o.traced, "error" -> o.error)),
      "spans" -> tracer.spans.toSeq.map(sp => Map(
        "id" -> sp.id, "parent" -> sp.parent, "op" -> sp.op, "name" -> sp.name,
        "start_s" -> s(sp.startNs - startNs), "end_s" -> s(sp.endNs - startNs))),
      "counters" -> counters.snapshot.map { case ((op, span), t) => Map(
        "op" -> op, "span" -> span, "jobs" -> t.jobs, "stages" -> t.stages, "tasks" -> t.tasks,
        "run_ms" -> t.runMs, "gc_ms" -> t.gcMs, "shuffle_write" -> t.shuffleWrite,
        "spill" -> t.spill, "input_bytes" -> t.inputBytes) },
      "prefix" -> prefix.map { case (k, v) => k -> v.toSeq },
      "extra" -> extra
    )
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(a("result")))
    try w.write(Json(result))
    finally w.close()
    spark.stop()
  }
}

/** Just enough JSON for the result file. */
object Json {
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.append('"').toString
  }

  def apply(v: Any): String = v match {
    case null                 => "null"
    case s: String            => quote(s)
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean           => b.toString
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]      => xs.map(apply).mkString("[", ",", "]")
    case other                => quote(other.toString)
  }
}
