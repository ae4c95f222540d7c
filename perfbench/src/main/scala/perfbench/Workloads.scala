package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, PerfbenchBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.{Scratch, SparkEntry}
import graft.etl.{Ingest, LoadJob, ValidationError}
import graft.ext.Events
import graft.streaming.StreamJobs

/** What an op runs against. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path,
    val fixtures: String)

/** One operation of a workload. Only [[run]] is timed: [[prepare]] and
  * [[check]] are the benchmark's own bookkeeping around it. `run`
  * returns the rows the op produced, published or consumed; `check`
  * returns why its output is wrong, if it is. */
trait Op {
  def name: String
  def prepare(ctx: Ctx): Unit = ()
  def run(ctx: Ctx, id: String): Long
  def check(ctx: Ctx): Option[String] = None
}

/** A workload: its ops in seeded order, and the once-per-run
  * correctness check (op name → what is wrong, for each op checked). */
final case class Workload(name: String, ops: Seq[Op],
    verify: Ctx => Seq[(String, Option[String])])

/** A registered query (`SparkEntry.queries`): the builder
  * `fn(spark, sfDir)` then the action `queryExecution.toRdd.count()`, as
  * the program's own bench times it. */
final class QueryOp(val name: String,
    fn: (SparkSession, String) => DataFrame) extends Op {
  def build(ctx: Ctx): DataFrame = fn(ctx.spark, ctx.fixtures)
  def run(ctx: Ctx, id: String): Long = {
    val t = ctx.tracer
    val df = t.span(id, "builder")(build(ctx))
    val rows = t.span(id, "exec")(df.queryExecution.toRdd.count())
    if (t.on) df.queryExecution.tracker.phases.foreach { case (phase, s) =>
      t.record(id, "catalyst." + phase, s.startTimeMs * 1000, s.endTimeMs * 1000)
    }
    Scratch.drain(ctx.spark)
    rows
  }
}

/** The ETL inputs one run generates: a daily CSV trio and fact
  * re-publish batches, each with the rows it holds. */
final case class EtlInputs(sales: Path, products: Path, customers: Path,
    salesRows: Int, productRows: Int, customerRows: Int,
    batches: Seq[(Path, Int, Boolean)])

/** A daily load: `LoadJob.run` gates the trio, then writes the star. */
final class LoadOp(in: EtlInputs, out: Path) extends Op {
  val name = "etl_daily_load"
  private var got = Map.empty[String, Long]
  def run(ctx: Ctx, id: String): Long = {
    val since = System.currentTimeMillis()
    got = ctx.tracer.span(id, "exec")(LoadJob.run(ctx.spark, in.sales.toString,
      in.products.toString, in.customers.toString, out.toString))
      .map(r => r.table -> r.rows).toMap
    Workloads.countIo(ctx, id, Seq(in.sales, in.products, in.customers), out, since)
    got.values.sum
  }
  override def check(ctx: Ctx): Option[String] = {
    val want = Map("fact_table" -> in.salesRows.toLong,
      "products" -> in.productRows.toLong, "customers" -> in.customerRows.toLong)
    if (got == want) None else Some(s"published $got, generated $want")
  }
}

/** A fact re-publish: `LoadJob.writeValidated` stages the batch and
  * promotes it only if every sales check passes. A batch carrying a
  * violating row must raise ValidationError and leave the published
  * table byte-identical. */
final class RepublishOp(val name: String, batch: Path, rows: Int,
    violating: Boolean, out: Path) extends Op {
  private def fact = out.resolve("fact_table")
  private var before = ""
  private var published = -1L
  private var rejected = false
  override def prepare(ctx: Ctx): Unit =
    before = if (violating) Workloads.digest(fact) else ""
  def run(ctx: Ctx, id: String): Long = {
    val since = System.currentTimeMillis()
    val df = Ingest.rename(Ingest.readCsv(ctx.spark, batch.toString, Ingest.salesSchema),
      Ingest.salesRenames)
      .withColumn("TRANSACTION_DATE", try_to_date(col("TRANSACTION_DATE")))
    rejected = false
    published = ctx.tracer.span(id, "exec") {
      try LoadJob.writeValidated(df, LoadJob.salesChecks, fact.toString, "fact_table").rows
      catch { case _: ValidationError if violating => rejected = true; 0L }
    }
    if (rejected) ctx.tracer.count(id, "etl.rejects", 1)
    Workloads.countIo(ctx, id, Seq(batch), out, since)
    published
  }
  override def check(ctx: Ctx): Option[String] =
    if (violating && !rejected) Some("violating batch was published")
    else if (violating && Workloads.digest(fact) != before)
      Some("rejected batch changed the published table")
    else if (!violating && published != rows)
      Some(s"published $published rows of $rows")
    else None
}

/** A replay of the split events directory through the stateful
  * `StreamJobs.runningTotals` job into the memory sink, one file per
  * micro-batch. */
final class ReplayOp(dir: Path) extends Op {
  val name = "stream_running_totals"
  private var runs = 0
  def sink: String = s"${name}_$runs"
  def run(ctx: Ctx, id: String): Long = {
    ctx.spark.catalog.dropTempView(sink)
    runs += 1
    val (_, q) = ctx.tracer.span(id, "exec") {
      val src = PerfbenchBridge.withSourceOption(
        StreamJobs.readEvents(ctx.spark, dir.toString), "maxFilesPerTrigger", "1")
      StreamJobs.runToMemoryWithQuery(StreamJobs.runningTotals(src), sink, OutputMode.Append())
    }
    val progress = q.recentProgress.toSeq
    val t = ctx.tracer
    if (t.on && progress.nonEmpty) {
      def ms(k: String) = progress.map(p => p.durationMs.asScala.get(k).map(_.toLong).getOrElse(0L)).sum
      t.count(id, "stream.batches", progress.size)
      t.count(id, "stream.trigger_ms", ms("triggerExecution"))
      t.count(id, "stream.add_batch_ms", ms("addBatch"))
      t.count(id, "stream.planning_ms", ms("queryPlanning"))
      t.count(id, "stream.wal_commit_ms", ms("walCommit"))
      t.count(id, "stream.state_rows", progress.last.stateOperators.map(_.numRowsTotal).sum)
      t.count(id, "stream.state_mem_bytes", progress.last.stateOperators.map(_.memoryUsedBytes).sum)
    }
    progress.map(_.numInputRows).sum
  }
}

object Workloads {
  val names: Seq[String] = Seq("daily_batch", "llm_index")

  /** Query ops by their registry number (`q01` names `q01_revenue_…`).
    * BI/star reads of the daily batch: a reference BI question, the
    * recursive hierarchy and the anti-join. */
  val biStar: Seq[String] = Seq("q02", "q04", "q06")
  /** Trainer, index and memo family: the BPE and k-means trainers (driver
    * collects), PQ ANN, and a session-memo consumer (DSIR weights). */
  val llmIndex: Seq[String] = Seq("q82", "q108", "q111", "q135")

  /** ETL sizes: one daily trio and the re-publish batches. */
  val salesRows = 60000
  val productRows = 2000
  val customerRows = 20000
  val batchRows = 30000
  val republishes = 2
  /** Streaming replay: the events fixture split into this many files. */
  val streamFiles = 2

  /** Fisher-Yates shuffle driven by `seed`. */
  def order[T](seed: Long, xs: Seq[T]): Seq[T] = {
    val r = new SplittableRandom(seed)
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  def queryOps(picked: Seq[String]): Seq[QueryOp] = {
    val all = SparkEntry.queries
    picked.map(p => all.find(_._1.split('_').head == p)
      .map { case (n, fn) => new QueryOp(n, fn) }
      .getOrElse(throw new IllegalArgumentException(s"no query $p")))
  }

  def apply(name: String, seed: Long, ctx: Ctx): Workload = name match {
    case "daily_batch" => dailyBatch(seed, ctx)
    case "llm_index" => queryWorkload(name, llmIndex, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (known: ${names.mkString(", ")})")
  }

  /** Write each query's result and its DuckDB twin SQL under
    * `work/check`; the oracle comparison runs after the JVM exits. */
  def dumpForOracle(ctx: Ctx, ops: Seq[QueryOp]): Seq[(String, Option[String])] = {
    val dir = ctx.work.resolve("check")
    val sql = SparkEntry.oracleSql
    Files.createDirectories(dir)
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(
      dir.resolve("oracle_sql.json").toFile,
      ops.flatMap(op => sql.get(op.name).map(op.name -> _)).toMap.asJava)
    ops.map { op =>
      val res = try {
        op.build(ctx).coalesce(1).write.mode("overwrite").parquet(dir.resolve(op.name).toString)
        if (sql.contains(op.name)) None else Some("no oracle SQL")
      } catch { case e: Exception => Some(s"check run threw ${e.getClass.getSimpleName}") }
      Scratch.drain(ctx.spark)
      op.name -> res
    }
  }

  def queryWorkload(name: String, picked: Seq[String], seed: Long): Workload = {
    val ops = queryOps(picked)
    Workload(name, order(seed, ops), ctx => dumpForOracle(ctx, ops))
  }

  /** The reference DAG's daily run: a daily load, two fact re-publishes
    * (one of them rejected), a streaming replay of the events, and the
    * BI/star reads, in seeded order; every write input is generated from
    * `seed`. */
  def dailyBatch(seed: Long, ctx: Ctx): Workload = {
    val in = etlInputs(seed, ctx.work.resolve("etl-in"))
    val out = ctx.work.resolve("etl-out")
    val events = ctx.work.resolve("events-stream")
    splitEvents(ctx.spark, ctx.fixtures, seed, events)
    val stream = new ReplayOp(events)
    val republish = in.batches.zipWithIndex.map { case ((path, rows, bad), i) =>
      new RepublishOp(s"etl_republish_$i", path, rows, bad, out)
    }
    val reads = queryOps(biStar)
    val ops = Seq(new LoadOp(in, out), stream) ++ republish ++ reads
    Workload("daily_batch", order(seed, ops),
      c => dumpForOracle(c, reads) :+ verifyStream(c, stream))
  }

  /** A sales/products/customers trio and re-publish batches, generated
    * from `seed` alone. Exactly one batch carries one violating row (a
    * non-positive amount); which batch and which row is seeded. */
  def etlInputs(seed: Long, dir: Path): EtlInputs = {
    Files.createDirectories(dir)
    val r = new SplittableRandom(seed)
    def write(file: String, header: String, rows: Int)(line: Int => String): Path = {
      val sb = new java.lang.StringBuilder(rows * 48)
      sb.append(header).append('\n')
      for (i <- 1 to rows) sb.append(line(i)).append('\n')
      Files.write(dir.resolve(file), sb.toString.getBytes(UTF_8))
    }
    def money(maxCents: Int) = {
      val c = 1 + r.nextInt(maxCents)
      s"${c / 100}.${"%02d".format(c % 100)}"
    }
    val countries = Seq("Germany", "france", "United States", "JAPAN", "Brazil",
      "India", "UK", "Spain", "canada", "Mexico", "South Korea", "Holland")
    val categories = Seq("Electronics", "Books", "Home", "Garden", "Toys", "Sports")
    val products = write("products.csv", "ProductID,ProductName,Category,Price", productRows) { i =>
      s"$i,Product $i,${categories(r.nextInt(categories.size))},${money(50000)}"
    }
    val customers = write("customers.csv", "CustomerID,Name,Email,Country", customerRows) { i =>
      s"$i,Customer $i,user$i@example.com,${countries(r.nextInt(countries.size))}"
    }
    def sale(i: Int, amount: String) =
      s"$i,2024-${"%02d".format(1 + r.nextInt(12))}-${"%02d".format(1 + r.nextInt(28))}," +
        s"${1 + r.nextInt(customerRows)},${1 + r.nextInt(productRows)},$amount"
    val header = "TransactionID,Date,CustomerID,ProductID,Amount"
    val sales = write("sales.csv", header, salesRows)(i => sale(i, money(100000)))
    val badBatch = r.nextInt(republishes)
    val batches = (0 until republishes).map { b =>
      val bad = b == badBatch
      val badRow = if (bad) 1 + r.nextInt(batchRows) else -1
      val p = write(s"batch-$b.csv", header, batchRows) { i =>
        sale(i, if (i == badRow) "-1.00" else money(100000))
      }
      (p, batchRows, bad)
    }
    EtlInputs(sales, products, customers, salesRows, productRows, customerRows, batches)
  }

  /** `files` + 1 ascending cut points over [lo, hi]: evenly spaced, each
    * inner cut moved by up to a third of a slice as `seed` says. */
  def cutPoints(seed: Long, lo: Long, hi: Long, files: Int): Seq[Long] = {
    val r = new SplittableRandom(seed)
    val step = (hi - lo).toDouble / files
    lo +: (1 until files).map(i => lo + ((i + (r.nextDouble() - 0.5) * 2 / 3) * step).toLong) :+ (hi + 1)
  }

  /** Split the events fixture by time into `streamFiles` files, so a
    * file-at-a-time replay arrives in event-time order and no row is
    * late; modification times follow the same order. */
  def splitEvents(spark: SparkSession, fixtures: String, seed: Long, dir: Path): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$fixtures/events.parquet")
    // the fixture's ts is nanos-as-long or a timestamp, depending on its layout
    val ts = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => col("ts")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
    val Array(lo, hi) = ev.agg(min(ts), max(ts)).head().toSeq.map(_.asInstanceOf[Long]).toArray
    val cuts = cutPoints(seed, lo, hi, streamFiles)
    Files.createDirectories(dir)
    val stamp = System.currentTimeMillis() - 60000L
    cuts.sliding(2).zipWithIndex.foreach { case (Seq(a, b), i) =>
      val tmp = dir.resolveSibling(s"events-slice-$i")
      ev.filter(ts >= a && ts < b).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dest = dir.resolve(f"events-$i%02d.parquet")
      Files.move(part, dest)
      Files.setLastModifiedTime(dest, java.nio.file.attribute.FileTime.fromMillis(stamp + i * 1000L))
    }
  }

  /** The replay's last sink must equal its batch twin over the fixture:
    * the running count and cents per user in (ts, event_id) order. */
  def verifyStream(ctx: Ctx, op: ReplayOp): (String, Option[String]) = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val twin = Events.loadEvents(ctx.spark, ctx.fixtures).select(col("user_id"), col("event_id"),
      count(lit(1)).over(w).as("running_n"),
      sum(floor(col("value") * 100).cast("long")).over(w).as("running_cents"))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    val got = rows(ctx.spark.table(op.sink).select("user_id", "event_id", "running_n", "running_cents"))
    val want = rows(twin)
    op.name -> (if (got == want) None
      else Some(s"sink differs from batch twin: ${(got diff want).size} extra, " +
        s"${(want diff got).size} missing rows"))
  }

  /** Traced runs only: count the CSV bytes an ETL op read and the data
    * files it left under `out` since `sinceMs`. */
  def countIo(ctx: Ctx, id: String, in: Seq[Path], out: Path, sinceMs: Long): Unit =
    if (ctx.tracer.on) {
      ctx.tracer.count(id, "etl.in_bytes", in.map(Files.size).sum.toDouble)
      val files = Files.walk(out).iterator().asScala.count { f =>
        f.getFileName.toString.startsWith("part-") &&
          Files.getLastModifiedTime(f).toMillis >= sinceMs
      }
      ctx.tracer.count(id, "etl.files_written", files.toDouble)
    }

  /** SHA-256 over every file under `root`, in path order. */
  def digest(root: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    if (Files.exists(root)) {
      val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        .sortBy(_.toString)
      files.foreach { f =>
        md.update(root.relativize(f).toString.getBytes(UTF_8))
        md.update(Files.readAllBytes(f))
      }
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
