package graft.ext

import graft.functions.{DotProduct, DotProductOffset, NearestL2Code}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization with asymmetric-distance (ADC) scoring — the
  * IVFADC recipe (Jégou et al., TPAMI 2011) every ANN query here
  * follows, in one place: the geometry, the batched Lloyd trainer, the
  * coarse residual, the code encoder and the ADC score. q111 quantizes
  * whole normalized vectors (no coarse tier); q273/q276/q283 and the
  * index-artifact family quantize IVF residuals x − centroid[cid].
  *
  * Cross-engine determinism (the DuckDB twins re-derive every book and
  * code): literal seeds from the first [[PqK]] rows, [[PqRounds]] Lloyd
  * rounds of exact [[PqGrid]] integer folds, codes by an ascending-cid
  * argmin/argmax with ties to the smallest cid, and ADC terms summed
  * left-associated in fixed coarse-then-ascending-subspace order.
  *
  * The codegen kernels underneath truncate on mismatched lengths where
  * the HOF forms returned NULL (`VectorKernels.dot`), so every book is
  * checked against its [[Space]] when a Column is built. */
object Pq {

  /** Raw-space geometry: M subspaces of Dim/M dims, K codewords per
    * subspace — the classic 64-dim→8-code compression with 4-bit codes
    * (the whole codebook is M·K·(Dim/M) = 1024 doubles). Constants, so
    * the SQL twins that interpolate them never race object init. */
  final val PqM = 8
  final val PqK = 16
  final val PqRounds = 1
  final val PqSub = Similarity.Dim / PqM

  /** Integer grid for the Lloyd book means — the [[Similarity.IvfGrid]]
    * doctrine applied to the books: per (subspace, cluster, dim) the
    * mean is Σ round(x·1e6) folded as an exact BIGINT (associative and
    * order-free on BOTH engines), divided once by n·1e6 at the edge.
    * Components are ≤ 2 in magnitude after normalization, so the
    * per-cluster sum stays inside int64 to ~4.6e12 members. The books
    * feed discrete codes AND q277's e6-grid census, so their VALUES
    * must be bit-identical across engines and thread schedules. */
  final val PqGrid = 1e6

  /** One subspace's codebook: (cid, codeword), ascending cid. */
  type Book = Seq[(Long, Seq[Double])]

  /** A coarse codebook: (cid, centroid), ascending cid. */
  type Cents = Array[(Long, Seq[Double])]

  /** Assignment kernel: the nearest codeword's cid for the `sub`-wide
    * window of a vector column starting at an offset. */
  type Nearest = (Column, Int, Book) => Column

  /** `m` subspaces of `sub` dims over `width`-wide vectors. */
  final case class Space(m: Int, sub: Int, width: Int) {
    require(m > 0 && sub > 0 && m * sub <= width,
      s"PQ space: $m subspaces of $sub dims do not fit $width-wide vectors")
  }

  val Raw: Space = Space(PqM, PqSub, Similarity.Dim)

  /** One training input: `rows` carries (vec_id, rv), rv being the
    * vectors the books quantize (IVF residuals, or q111's normalized
    * vectors). */
  final case class Arm(tag: String, rows: DataFrame, space: Space)

  /** Reject books that do not match their space before any plan is
    * built: one book per subspace, every codeword `sub` wide. */
  private def check(books: Seq[Book], space: Space): Unit = {
    require(books.size == space.m,
      s"PQ: ${books.size} books for ${space.m} subspaces")
    require(books.forall(_.forall(_._2.size == space.sub)),
      s"PQ: every codeword must be ${space.sub} wide")
  }

  /** Batched book trainer: per arm, literal seeds from the first
    * [[PqK]] rows (sliced per subspace), then per Lloyd round one
    * `nearest` assignment + [[PqGrid]] mean per (subspace, code, dim);
    * clusters that empty out drop from that subspace's book. The seed
    * collect and each round's stats collect cover ALL arms as ONE
    * tagged-union Spark job, so a two-space/two-arm query pays 2
    * driver round-trips instead of 4 and the per-arm stages run
    * concurrently inside one job. Per-arm values are bit-identical to
    * training each arm alone: every group key carries its tag and the
    * grid sums are order-free BIGINT folds. */
  def train(arms: Seq[Arm], nearest: Nearest): Map[String, Seq[Book]] = {
    val seedRows = arms.map { a =>
      a.rows.filter(col("vec_id") < PqK)
        .select(lit(a.tag).as("tag"), col("vec_id"), col("rv"))
    }.reduce(_ unionAll _).collect()
    var booksBy: Map[String, Seq[Book]] = arms.map { a =>
      val seeds = seedRows.filter(_.getString(0) == a.tag)
        .map(r => r.getLong(1) -> r.getSeq[Double](2))
        .sortBy(_._1).toSeq
      val sub = a.space.sub
      a.tag -> (0 until a.space.m).map { s =>
        seeds.map { case (cid, rv) =>
          cid -> rv.slice(s * sub, s * sub + sub).toSeq }
      }
    }.toMap
    arms.foreach(a => check(booksBy(a.tag), a.space))
    for (_ <- 1 to PqRounds) {
      val stats = arms.map { a =>
        val books = booksBy(a.tag)
        val sub = a.space.sub
        // the argmin kernel reads the rv window in place; the sv slice
        // stays for the posexplode payload only
        val subs = (0 until a.space.m).map { s =>
          struct(lit(s).as("s"),
            nearest(col("rv"), s * sub, books(s)).as("cid"),
            slice(col("rv"), s * sub + 1, sub).as("sv"))
        }
        a.rows.select(explode(array(subs: _*)).as("sub"))
          .select(col("sub.s").as("s"), col("sub.cid").as("cid"),
            posexplode(col("sub.sv")).as(Seq("i", "x")))
          .groupBy("s", "cid", "i")
          .agg(sum(round(col("x") * PqGrid, 0).cast("long")).as("sx"),
            count(lit(1)).as("n"))
          .select(lit(a.tag).as("tag"), col("s"), col("cid"), col("i"),
            col("sx"), col("n"))
      }.reduce(_ unionAll _).collect()
      booksBy = arms.map { a =>
        val mine = stats.filter(_.getString(0) == a.tag)
        a.tag -> (0 until a.space.m).map { s =>
          mine.filter(_.getInt(1) == s).groupBy(_.getLong(2))
            .map { case (cid, rows) =>
              cid -> rows.sortBy(_.getInt(3))
                .map(r => r.getLong(4).toDouble / (r.getLong(5) * PqGrid))
                .toSeq
            }.toSeq.sortBy(_._1)
        }
      }.toMap
    }
    booksBy
  }

  /** Squared-L2 assignment, ties to the smallest cid — the residual
    * books' kernel. Cosine (q111's whole-vector metric) is undefined on
    * the exact-zero residual every coarse centroid produces (its own),
    * and the NaN ordering diverges between engines; squared L2 is total
    * on all finite inputs and its in-order fold is bit-equal across
    * engines. */
  val byL2: Nearest = NearestL2Code.nearest_l2_code

  /** Centroid of each row's coarse list `cid`. */
  def centroid(cents: Cents): Column =
    element_at(typedlit(cents.toMap), col("cid"))

  /** Coarse assignment of `e`'s `x` vectors: adds the nearest centroid's
    * `cid` and the residual `rv` = x − centroid[cid] (the rows the
    * residual books train on). */
  def residual(cents: Cents, e: DataFrame): DataFrame =
    e.withColumn("cid", Similarity.ivfAssign(cents.toSeq, col("x")))
      .withColumn("rv", zip_with(col("x"), centroid(cents), (a, b) => a - b))

  /** The code columns c0‥c(m−1): per subspace, `nearest` over `v`'s
    * window. */
  def codes(v: Column, books: Seq[Book], space: Space,
      nearest: Nearest): Seq[Column] = {
    check(books, space)
    books.zipWithIndex.map { case (b, s) =>
      nearest(v, s * space.sub, b).as(s"c$s")
    }
  }

  /** The code columns [[codes]] names, in subspace order. */
  def codeCols(space: Space): Seq[Column] =
    (0 until space.m).map(s => col(s"c$s"))

  /** Residual codes of `x` against `base` (its centroid): the
    * subtraction runs INSIDE the argmin kernel per subspace window —
    * no materialized rv column, bit-equal to coding the residual (same
    * two subtractions in the same order — NearestL2Code). */
  def encode(x: Column, base: Column, books: Seq[Book],
      space: Space): Seq[Column] =
    codes(x, books, space,
      NearestL2Code.nearest_l2_code_residual(_, base, _, _))

  /** ADC score of query `q` against the coded rows (c0‥c(m−1)): the
    * exact coarse term dot(q, coarse) when given (IVF), then per
    * subspace dot(q_s, book_s[c_s]), summed left-associated in
    * ascending subspace order — the order both engines execute. The
    * offset-dot kernel reads q's window in place (no slice per
    * pair × subspace). */
  def adc(q: Column, books: Seq[Book], space: Space,
      coarse: Option[Column] = None): Column = {
    check(books, space)
    val terms = codeCols(space).zipWithIndex.map { case (c, s) =>
      DotProductOffset.dot_product_off(q, s * space.sub,
        element_at(typedlit(books(s).toMap), c))
    }
    (coarse.map(DotProduct.dot_product(q, _)).toSeq ++ terms)
      .reduceLeft(_ + _)
  }
}
