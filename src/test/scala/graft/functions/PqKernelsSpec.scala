package graft.functions

import graft.SparkSpec
import graft.ext.Pq
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Conformance of the four kernels [[graft.ext.Pq]] calls —
  * `nearest_cos_centroid_off`, `nearest_l2_code`,
  * `nearest_l2_code_residual` and `dot_product_off` — against the
  * slice / struct-sort / HOF forms they replaced, evaluated both
  * interpreted and code-generated. Codes must match exactly and doubles
  * bit for bit (raw long bits) on random rows and on the adversarial
  * ones: exact ties (must go to the smallest cid), ±0.0 components,
  * zero windows (cosine NaN, which Spark orders greatest), an
  * exact-zero residual, NaN components, and every subspace window up
  * to the last one. */
class PqKernelsSpec extends SparkSpec {

  private val Width = 64
  private val Sub = 8
  private val M = Width / Sub
  private val Offsets = (0 until M).map(_ * Sub)

  // ---------------------------------------------------------------
  // reference forms
  // ---------------------------------------------------------------

  private def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, e) => acc + e)

  private def sqDistHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0),
      (acc, e) => acc + e)

  /** Cosine as the HOF folds, with Java's 0/0 = NaN on a zero side
    * (Spark's divide would return NULL or raise instead). */
  private def cosHof(a: Column, b: Column): Column = {
    val den = sqrt(dotHof(a, a)) * sqrt(dotHof(b, b))
    when(den === 0.0, lit(Double.NaN)).otherwise(dotHof(a, b) / den)
  }

  private def window(v: Column, off: Int): Column = slice(v, off + 1, Sub)

  /** Highest cosine, ties (and all-NaN rows) to the smallest cid: the
    * struct-sort argmax `nearest_cos_centroid_off` replaced. */
  private def refCos(v: Column, off: Int, book: Pq.Book): Column =
    -sort_array(array(book.map { case (cid, cw) =>
      struct(cosHof(window(v, off), typedlit(cw)).as("cos"),
        lit(-cid).as("ncid"))
    }: _*), asc = false)(0)("ncid")

  /** Smallest squared L2, ties to the smallest cid: the struct-sort
    * argmin `nearest_l2_code` replaced. */
  private def refL2(v: Column, off: Int, book: Pq.Book): Column =
    sort_array(array(book.map { case (cid, cw) =>
      struct(sqDistHof(window(v, off), typedlit(cw)).as("d"),
        lit(cid).as("cid"))
    }: _*), asc = true)(0)("cid")

  // ---------------------------------------------------------------
  // inputs
  // ---------------------------------------------------------------

  private val rnd = new scala.util.Random(42)
  private def gauss(n: Int): Seq[Double] = Seq.fill(n)(rnd.nextGaussian())

  /** Random book: 16 codewords under ascending, gapped cids. */
  private val randomBook: Pq.Book =
    (0 until 16).map(k => (3L * k + 1) -> gauss(Sub))

  private val e0 = 1.0 +: Seq.fill(Sub - 1)(0.0)

  /** Adversarial book: +0.0 and −0.0 codewords, a unit codeword, its
    * exact duplicate, its exact double (same cosine) and its negation
    * (same L2 distance from the origin). */
  private val edgeBook: Pq.Book = Seq(
    1L -> Seq.fill(Sub)(0.0),
    4L -> Seq.fill(Sub)(-0.0),
    6L -> e0,
    9L -> e0.map(-_),
    12L -> e0,
    15L -> e0.map(_ * 2))

  /** Row vectors: whole-width vectors built from one window pattern, so
    * every subspace (the last included) sees the pattern. */
  private def tiled(w: Seq[Double]): Seq[Double] =
    Seq.fill(M)(w).flatten

  private val edgeVectors: Seq[Seq[Double]] = Seq(
    tiled(Seq.fill(Sub)(0.0)),
    tiled(Seq.fill(Sub)(-0.0)),
    tiled(Seq.tabulate(Sub)(i => if (i % 2 == 0) -0.0 else 0.0)),
    tiled(e0),
    tiled(e0.map(_ * 0.5)), // equidistant from the zero and unit words
    tiled(e0.map(-_)),
    tiled(Double.NaN +: Seq.fill(Sub - 1)(1.0)))

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("v", ArrayType(DoubleType)),
    StructField("base", ArrayType(DoubleType)),
    StructField("c", LongType)))

  /** (v, base, c) rows: random vectors, the adversarial ones, and a
    * base equal to v (exact-zero residual) for every third row. `c`
    * is a cid of `book` for the ADC lookup. */
  private def frame(book: Pq.Book): DataFrame = {
    val vs = Seq.fill(40)(gauss(Width)) ++ edgeVectors
    val cids = book.map(_._1)
    val rows = vs.zipWithIndex.map { case (v, i) =>
      val base = if (i % 3 == 0) v else gauss(Width)
      Row(i, v, base, cids(i % cids.size))
    }
    // an RDD source: a local relation would be evaluated by the
    // optimizer on the driver, in neither mode under test
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  // ---------------------------------------------------------------
  // evaluation modes
  // ---------------------------------------------------------------

  private val modes = Seq("NO_CODEGEN", "CODEGEN_ONLY")

  /** Evaluate under one codegen factory mode. Interpreted also turns
    * whole-stage codegen off (it would compile the kernels anyway);
    * generated code turns the silent fallback to interpretation off,
    * so a kernel whose generated code fails to compile fails here. */
  private def under[T](mode: String)(f: => T): T = {
    val codegen = mode == "CODEGEN_ONLY"
    val settings = Seq(
      "spark.sql.codegen.factoryMode" -> mode,
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.fallback" -> (!codegen).toString)
    val saved = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Collect (kernel, reference) column pairs under `mode`, checking
    * the plan really is (or is not) whole-stage generated. */
  private def pairs(df: DataFrame, mode: String,
      cols: Seq[(Column, Column)]): Seq[(Row, Seq[(Any, Any)])] =
    under(mode) {
      val out = df.select(
        col("id") +: cols.flatMap { case (k, r) => Seq(k, r) }: _*)
      val generated = out.queryExecution.executedPlan
        .find(_.isInstanceOf[WholeStageCodegenExec]).isDefined
      assert(generated == (mode == "CODEGEN_ONLY"),
        s"$mode must ${if (generated) "not " else ""}run generated code")
      out.collect().toSeq.map { r =>
        r -> cols.indices.map(i => (r.get(1 + 2 * i), r.get(2 + 2 * i)))
      }
    }

  private def bits(x: Any): Any = x match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case other => other
  }

  private def conform(name: String, book: Pq.Book,
      cols: Seq[(Column, Column)]): Unit = {
    val df = frame(book)
    for (mode <- modes) {
      pairs(df, mode, cols).foreach { case (row, ps) =>
        ps.zipWithIndex.foreach { case ((k, r), s) =>
          val at = s"$name under $mode, row ${row.getInt(0)} window $s"
          assert(k != null, s"$at: kernel returned NULL")
          assert(bits(k) == bits(r), s"$at: kernel $k vs reference $r")
        }
      }
    }
  }

  // ---------------------------------------------------------------
  // the four kernels
  // ---------------------------------------------------------------

  for ((label, book) <-
      Seq("random" -> randomBook, "adversarial" -> edgeBook)) {
    test(s"nearest_cos_centroid_off equals the slice struct-sort argmax " +
        s"($label book)") {
      conform("nearest_cos_centroid_off", book, Offsets.map { off =>
        (NearestCosineCentroid.nearest_cos_centroid_off(col("v"), off, book),
          refCos(col("v"), off, book))
      })
    }

    test(s"nearest_l2_code equals the slice struct-sort argmin ($label book)") {
      conform("nearest_l2_code", book, Offsets.map { off =>
        (NearestL2Code.nearest_l2_code(col("v"), off, book),
          refL2(col("v"), off, book))
      })
    }

    test(s"nearest_l2_code_residual equals coding the zip_with residual " +
        s"($label book)") {
      val rv = zip_with(col("v"), col("base"), (a, b) => a - b)
      conform("nearest_l2_code_residual", book, Offsets.map { off =>
        (NearestL2Code.nearest_l2_code_residual(col("v"), col("base"), off,
          book), refL2(rv, off, book))
      })
    }

    test(s"dot_product_off equals the HOF dot over the slice ($label book)") {
      val cw = element_at(typedlit(book.toMap), col("c"))
      conform("dot_product_off", book, Offsets.map { off =>
        (DotProductOffset.dot_product_off(col("v"), off, cw),
          dotHof(window(col("v"), off), cw))
      })
    }
  }

  test("adversarial rows pin the tie-break and NaN order") {
    // v's windows are 0.5·e0: squared L2 0.25 to the +0.0, −0.0 and
    // unit words alike — the tie goes to the smallest cid (1). The
    // zero window's cosine is NaN for every word, a full tie (cid 1);
    // against a unit window the zero words' NaN cosines rank greatest.
    val rows = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(tiled(e0.map(_ * 0.5)), tiled(Seq.fill(Sub)(0.0)), tiled(e0))),
        1),
      StructType(Seq("half", "zero", "unit")
        .map(StructField(_, ArrayType(DoubleType)))))
    val last = (M - 1) * Sub
    for (mode <- modes) under(mode) {
      val r = rows.select(
        NearestL2Code.nearest_l2_code(col("half"), last, edgeBook),
        NearestCosineCentroid.nearest_cos_centroid_off(col("zero"), last,
          edgeBook),
        NearestCosineCentroid.nearest_cos_centroid_off(col("unit"), last,
          edgeBook),
        NearestL2Code.nearest_l2_code_residual(col("unit"), col("unit"),
          last, edgeBook)).head()
      assert(r.getLong(0) == 1L, s"$mode: L2 tie must go to the smallest cid")
      assert(r.getLong(1) == 1L,
        s"$mode: all-NaN cosines tie to the smallest cid")
      assert(r.getLong(2) == 1L, s"$mode: a NaN cosine ranks greatest")
      assert(r.getLong(3) == 1L,
        s"$mode: an exact-zero residual is nearest the zero word")
    }
  }

  // ---------------------------------------------------------------
  // Pq's build-time preconditions
  // ---------------------------------------------------------------

  test("Pq rejects malformed books when the Column is built, before any job") {
    val books = Seq.fill(Pq.PqM)(randomBook)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val df = frame(randomBook)
    spark.sparkContext.addSparkListener(listener)
    try {
      // a codeword one element short: the offset kernels would
      // silently truncate its sum instead of failing
      val short = books.updated(3, randomBook.map { case (c, w) =>
        c -> w.dropRight(1) })
      intercept[IllegalArgumentException](
        df.select(Pq.adc(col("v"), short, Pq.Raw)).collect())
      intercept[IllegalArgumentException](
        df.select(Pq.encode(col("v"), col("base"), short, Pq.Raw): _*)
          .collect())
      // one book missing: M books are required
      intercept[IllegalArgumentException](
        df.select(Pq.adc(col("v"), books.tail, Pq.Raw)).collect())
      // subspaces that overrun the vector width
      intercept[IllegalArgumentException](Pq.Space(Pq.PqM + 1, Pq.PqSub, Width))
      // well-formed books still build
      assert(Pq.encode(col("v"), col("base"), books, Pq.Raw).size == Pq.PqM)
    } finally {
      Thread.sleep(200) // let the listener bus deliver any job event
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get() == 0, "a malformed book must fail before any job runs")
  }
}
