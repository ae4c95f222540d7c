package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One timed execution of one op. `ms` is the wall time of `Op.run`
  * alone; a failed record (threw, or its output check failed) carries
  * the reason and is kept out of every timing. */
final case class OpRecord(op: String, ok: Boolean, ms: Double, rows: Long,
    error: String)

final case class PassRecord(traced: Boolean, ops: Seq[OpRecord],
    layers: Map[String, Double])

/** Closed-loop benchmark client: one JVM, one session, one op at a time.
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1
  *      --fixtures DIR --work DIR --out FILE
  * }}}
  *
  * Sets a session up three times (the last one is kept), generates
  * the workload's inputs from the seed, runs one cold pass, then steady
  * passes until `seconds` have passed (at least two), then checks
  * outputs outside the timed region. With `--trace 1` the steady part is
  * three passes, untraced, traced, untraced, so the same run also
  * measures the tracing overhead. Raw records go to `--out` as JSON;
  * `run.py` reduces them to metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val entry = System.nanoTime()
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val fixtures = o("fixtures")
    val work = Paths.get(o("work"))
    val cores = Runtime.getRuntime.availableProcessors
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    // memo builds run deep below their Memo frame; keep enough of each
    // job's call site for the tracer to see it
    if (trace) System.setProperty("spark.callstack.depth", "200")

    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var t0 = entry
    for (_ <- 1 to 3) {
      if (spark != null) { spark.stop(); t0 = System.nanoTime() }
      spark = Session.create(cores, work)
      Session.warmUp(spark, fixtures)
      setupS += (System.nanoTime() - t0) / 1e9
    }

    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, tracer, work, fixtures)
    val wl = Workloads(workload, seed, ctx)

    tracer.enable(trace)
    val cold = runPass(ctx, wl.ops, 0, cores)
    val passes = ArrayBuffer.empty[PassRecord]
    if (trace) {
      // one traced pass between two untraced ones: JIT warming between
      // passes then cancels out of the tracing overhead
      for (on <- Seq(false, true, false)) {
        tracer.enable(on)
        passes += runPass(ctx, wl.ops, passes.size + 1, cores)
      }
      tracer.enable(false)
    } else {
      // whole passes until `seconds` have passed, at least two
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      while (passes.size < 2 || System.nanoTime() < deadline)
        passes += runPass(ctx, wl.ops, passes.size + 1, cores)
    }

    val verdicts = try wl.verify(ctx)
      catch { case NonFatal(e) => Seq(workload -> Some(s"correctness check threw $e")) }
    val checks = verdicts.map { case (op, err) => Map("op" -> op, "error" -> err.orNull) }
    val spans = tracer.allSpans
    spark.stop()

    val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
    val raw = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "spark" -> org.apache.spark.SPARK_VERSION, "java" -> System.getProperty("java.version"),
      "setup_s" -> setupS, "cold" -> cold, "passes" -> passes,
      "checks" -> checks, "peak_rss_mb" -> Session.peakRssMb())
    Files.createDirectories(Paths.get(o("out")).toAbsolutePath.getParent)
    mapper.writeValue(Paths.get(o("out")).toFile, raw)
    if (trace) mapper.writeValue(work.resolve(s"spans-$workload-$seed.json").toFile, spans)
  }

  /** Run every op once, in order. An op that throws, or whose output
    * check fails, is recorded as failed with its reason. */
  def runPass(ctx: Ctx, ops: Seq[Op], pass: Int, cores: Int): PassRecord = {
    val t = ctx.tracer
    val recs = ops.map { op =>
      val id = s"p$pass:${op.name}"
      op.prepare(ctx)
      val t0 = System.nanoTime()
      val res = try Right(t.span(id, "op")(op.run(ctx, id)))
        catch { case NonFatal(e) => Left(s"threw ${e.getClass.getName}: ${e.getMessage}") }
      val ms = (System.nanoTime() - t0) / 1e6
      val err = res.left.toOption.orElse(
        try op.check(ctx) catch { case NonFatal(e) => Some(s"check threw $e") })
      System.err.println(f"[perfbench] pass $pass ${op.name} $ms%.1f ms" +
        err.map(" FAILED: " + _).getOrElse(""))
      OpRecord(op.name, err.isEmpty, ms, res.getOrElse(0L), err.orNull)
    }
    t.drain()
    val layers = if (t.on) Layers.summarize(t, recs, pass, cores) else Map.empty[String, Double]
    PassRecord(t.on, recs, layers)
  }
}

object Session {
  /** The session every workload runs in: `local[cores]` with as many
    * shuffle partitions, every scratch path inside `work`. */
  def create(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fixed warm-up, the same for every workload: an exchange, a
    * broadcast join with a decimal aggregate, and a parquet read of
    * every fixture footer. */
  def warmUp(spark: SparkSession, fixtures: String): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(1000).selectExpr("id % 10 as k", "id").groupBy("k").count().collect()
    spark.range(1000).selectExpr("id % 7 as k", "cast(id as decimal(18,2)) as m")
      .join(broadcast(spark.range(7).selectExpr("id as k")), "k")
      .groupBy("k").agg(sum("m")).collect()
    spark.read.parquet(s"$fixtures/region.parquet").count()
    graft.Tables.names.foreach(n => spark.read.parquet(s"$fixtures/$n.parquet").schema)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}
