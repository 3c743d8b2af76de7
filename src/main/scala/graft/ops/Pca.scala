package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Principal-component analysis over an embedding column — the standard
  * pre-processing stage of large-scale vector pipelines (dimensionality
  * reduction and whitening before product quantization or clustering; the
  * faiss `PCAMatrix` role, cf. Jégou et al. TPAMI 2011 §V.A which applies
  * exactly this before PQ).
  *
  * Scale design (100 TB): the fit is ONE pass over the corpus — a
  * `treeAggregate` accumulating (count, Σx, packed upper-triangular Σxxᵀ),
  * i.e. O(d²) driver state like the classifier's gradient pass
  * ([[Classifier.trainHashedLR]]) — the corpus never collects. The
  * eigendecomposition runs on the DRIVER over the d×d covariance (cyclic
  * Jacobi, deterministic; d is an embedding width, 64–4096, so O(d³) is
  * milliseconds-to-seconds). Application is a scan-side Column projection:
  * the k×d model rides the plan as expression state
  * ([[graft.expr.VectorExprs.AffineProject]], one primitive-typed pass per
  * row — center, rotate, rescale), so projection shuffles nothing, prunes
  * to the one input column, and works in Structured Streaming transforms.
  */
object Pca {

  /** A fitted PCA basis. `components` holds the top-k eigenvectors of the
    * population covariance as ROWS (k×d, orthonormal), paired with
    * `eigenvalues` (descending). `totalVariance` is the covariance trace —
    * the FULL spectrum's sum, kept so explained-variance ratios stay
    * correct after truncation to k < d.
    */
  case class PcaModel(mean: Array[Double], eigenvalues: Array[Double],
                      components: Array[Array[Double]], totalVariance: Double) {
    def dim: Int = mean.length
    def k: Int = components.length
  }

  /** Eigen-decomposition of a symmetric matrix by cyclic Jacobi rotations
    * (Golub & Van Loan §8.5) — deterministic (fixed sweep order, fixed
    * convergence threshold), returns (eigenvalues descending, eigenvectors
    * as rows aligned with the values). Sign convention: each vector's
    * largest-magnitude coordinate (first on ties) is non-negative, so the
    * basis is unique and engine-stable.
    */
  private[ops] def jacobiEigh(sym: Array[Array[Double]], maxSweeps: Int = 64)
      : (Array[Double], Array[Array[Double]]) = {
    val d = sym.length
    require(d > 0 && sym.forall(_.length == d), "jacobiEigh: square matrix required")
    val a = Array.tabulate(d, d)((i, j) => sym(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def offDiag(): Double = {
      var s = 0d; var i = 0
      while (i < d) { var j = i + 1; while (j < d) { s += a(i)(j) * a(i)(j); j += 1 }; i += 1 }
      s
    }
    var frob2 = 0d
    locally { var i = 0; while (i < d) { var j = 0; while (j < d) { frob2 += a(i)(j) * a(i)(j); j += 1 }; i += 1 } }
    val thresh = 1e-28 * math.max(frob2, Double.MinPositiveValue)
    var sweep = 0
    while (sweep < maxSweeps && offDiag() > thresh) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (apq != 0.0) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              case sgn => sgn / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            // rotate rows/columns p and q of the (symmetric) working matrix
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              i += 1
            }
            // accumulate the rotation into the eigenvector columns
            i = 0
            while (i < d) {
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    // extract (value, vector-row) pairs; sort by value DESC, deterministic
    // tie-break on the original column index
    val pairs = Array.tabulate(d) { j =>
      (a(j)(j), j, Array.tabulate(d)(i => v(i)(j)))
    }.sortBy { case (lam, j, _) => (-lam, j) }
    val vecs = pairs.map { case (_, _, vec) =>
      var mi = 0; var mv = 0d; var i = 0
      while (i < d) {
        val av = math.abs(vec(i))
        if (av > mv + 1e-15) { mv = av; mi = i }
        i += 1
      }
      if (vec(mi) < 0) vec.map(x => -x) else vec
    }
    (pairs.map(_._1), vecs)
  }

  /** Fit PCA on `vecCol` (array of float/double, fixed width): one
    * `treeAggregate` pass builds the d-mean and d×d population covariance
    * (1/n convention), then a driver-side Jacobi eigendecomposition keeps
    * the top `k` components (`k <= 0` keeps all d). Null vectors are
    * skipped; ragged widths fail loudly.
    */
  def fitPca(emb: DataFrame, vecCol: String, k: Int = 0): PcaModel = {
    val rows = emb.select(col(vecCol)).na.drop()
    val head = rows.head(1)
    require(head.nonEmpty, "fitPca: no non-null vectors")
    val d = head(0).getSeq[Any](0).length
    require(d > 0, "fitPca: zero-width vectors")
    val packed = d * (d + 1) / 2
    val (n, sx, sxx) = rows.rdd.treeAggregate(
      (0L, new Array[Double](d), new Array[Double](packed)))(
      seqOp = { case ((cnt, s, p), row) =>
        val x = Similarity.toDoubleArray(row.getSeq[Any](0))
        if (x.length != d)
          throw new IllegalArgumentException(
            s"fitPca: ragged vector width ${x.length} != $d")
        var i = 0
        while (i < d) { s(i) += x(i); i += 1 }
        var idx = 0; var a = 0
        while (a < d) {
          val xa = x(a); var b = a
          while (b < d) { p(idx) += xa * x(b); idx += 1; b += 1 }
          a += 1
        }
        (cnt + 1, s, p)
      },
      combOp = { case ((n1, s1, p1), (n2, s2, p2)) =>
        var i = 0
        while (i < d) { s1(i) += s2(i); i += 1 }
        i = 0
        while (i < packed) { p1(i) += p2(i); i += 1 }
        (n1 + n2, s1, p1)
      })
    require(n > 0, "fitPca: no non-null vectors")
    val mean = sx.map(_ / n)
    val cov = Array.ofDim[Double](d, d)
    var idx = 0; var a = 0
    while (a < d) {
      var b = a
      while (b < d) {
        val c = sxx(idx) / n - mean(a) * mean(b)
        cov(a)(b) = c; cov(b)(a) = c
        idx += 1; b += 1
      }
      a += 1
    }
    var trace = 0d
    locally { var i = 0; while (i < d) { trace += cov(i)(i); i += 1 } }
    val (vals, vecs) = jacobiEigh(cov)
    val keep = if (k <= 0 || k > d) d else k
    PcaModel(mean, vals.take(keep), vecs.take(keep), trace)
  }

  /** Project every vector onto the fitted basis: adds `pca`
    * (array&lt;double&gt;, length k). With `whiten = true` each coordinate
    * is divided by √λ so the projected corpus has unit variance per
    * component (degenerate directions — λ below 1e-12 of the trace — map
    * to 0 rather than amplifying noise, the faiss clamp). A scan-side
    * Column projection: no shuffle, no RDD, streaming-safe.
    */
  def projectPca(df: DataFrame, vecCol: String, idCol: String,
                 model: PcaModel, whiten: Boolean = false): DataFrame = {
    val floor = 1e-12 * math.max(model.totalVariance, Double.MinPositiveValue)
    val scale =
      if (whiten) model.eigenvalues.map(l => if (l > floor) 1.0 / math.sqrt(l) else 0.0)
      else Array.fill(model.k)(1.0)
    df.select(col(idCol),
      graft.expr.VectorExprs.affine_project(
        col(vecCol), model.components, model.mean, scale).as("pca"))
  }

  /** Orthogonal Procrustes alignment of two embedding spaces
    * (Schönemann 1966): from PAIRED rows (x, y) — the same items
    * embedded by an old and a new encoder — the rigid map
    * {{{ y ≈ (x − μx)·R + μy,  R orthogonal }}}
    * minimizing the Frobenius residual: R = U Vᵀ from the SVD of the
    * centered cross-covariance M = Xcᵀ Yc. The SVD rides
    * [[jacobiEigh]]: MᵀM = V Σ² Vᵀ gives V and Σ, U = M V Σ⁻¹; a sign
    * flip of any v_i flips u_i with it and cancels in u_i·v_iᵀ, so R is
    * deterministic regardless of the eigenvector sign convention. The
    * classic fix when an embedding model is retrained and an existing
    * ANN index / cached corpus must keep working without re-embedding
    * everything.
    *
    * Rank-deficient cross-covariance (paired data confined to a
    * subspace) REFUSES loudly — the rotation outside the span would be
    * arbitrary.
    *
    * Scale shape: ONE treeAggregate over the pairs builds (n, Σx, Σy,
    * Σxyᵀ) — O(d²) driver state; the O(d³) SVD is driver-side
    * (d = embedding width); application is the codegen
    * [[graft.expr.VectorExprs.affine_project]] scan plus one zip_with
    * shift — no UDF, no shuffle.
    */
  case class ProcrustesModel(rotation: Array[Array[Double]],
                             srcMean: Array[Double],
                             dstMean: Array[Double]) {
    def dim: Int = srcMean.length
  }

  def fitProcrustes(pairs: DataFrame, srcVecCol: String,
                    dstVecCol: String): ProcrustesModel = {
    val rows = pairs.select(col(srcVecCol), col(dstVecCol)).na.drop()
    val head = rows.head(1)
    require(head.nonEmpty, "fitProcrustes: no non-null pairs")
    val d = head(0).getSeq[Any](0).length
    require(head(0).getSeq[Any](1).length == d,
      "fitProcrustes: source and target widths differ")
    val (n, sx, sy, sxy) = rows.rdd.treeAggregate(
      (0L, new Array[Double](d), new Array[Double](d),
        new Array[Double](d * d)))(
      seqOp = { case ((cnt, ax, ay, m), row) =>
        val x = Similarity.toDoubleArray(row.getSeq[Any](0))
        val y = Similarity.toDoubleArray(row.getSeq[Any](1))
        require(x.length == d && y.length == d,
          s"fitProcrustes: ragged widths ${x.length}/${y.length} != $d")
        var i = 0
        while (i < d) { ax(i) += x(i); ay(i) += y(i); i += 1 }
        i = 0
        while (i < d) {
          val xi = x(i); var j = 0
          while (j < d) { m(i * d + j) += xi * y(j); j += 1 }
          i += 1
        }
        (cnt + 1, ax, ay, m)
      },
      combOp = { case ((n1, x1, y1, m1), (n2, x2, y2, m2)) =>
        var i = 0
        while (i < d) { x1(i) += x2(i); y1(i) += y2(i); i += 1 }
        i = 0
        while (i < d * d) { m1(i) += m2(i); i += 1 }
        (n1 + n2, x1, y1, m1)
      })
    require(n > 0, "fitProcrustes: no non-null pairs")
    val mx = sx.map(_ / n)
    val my = sy.map(_ / n)
    // centered cross-covariance (the 1/n scale cancels in the SVD map)
    val mMat = Array.tabulate(d, d)((i, j) => sxy(i * d + j) / n - mx(i) * my(j))
    val mtm = Array.tabulate(d, d) { (a, b) =>
      var s = 0d; var i = 0
      while (i < d) { s += mMat(i)(a) * mMat(i)(b); i += 1 }
      s
    }
    val (lams, vRows) = jacobiEigh(mtm) // vRows(i) = v_i
    val sig = lams.map(l => math.sqrt(math.max(l, 0.0)))
    require(sig(0) > 0 && sig(d - 1) > 1e-10 * sig(0),
      "fitProcrustes: rank-deficient cross-covariance — paired data " +
        "spans a proper subspace, the rotation is under-determined")
    // u_i = M v_i / sigma_i; R = sum_i u_i v_i^T
    val u = Array.tabulate(d, d) { (row, i) =>
      var s = 0d; var j = 0
      while (j < d) { s += mMat(row)(j) * vRows(i)(j); j += 1 }
      s / sig(i)
    }
    val r = Array.tabulate(d, d) { (a, b) =>
      var s = 0d; var i = 0
      while (i < d) { s += u(a)(i) * vRows(i)(b); i += 1 }
      s
    }
    ProcrustesModel(r, mx, my)
  }

  /** Apply a fitted alignment: adds `aligned` = (x − μx)·R + μy — the
    * codegen affine_project scan plus one zip_with shift. */
  def alignEmbeddings(df: DataFrame, vecCol: String, idCol: String,
                      model: ProcrustesModel): DataFrame = {
    val d = model.dim
    // affine_project emits per-ROW dot products, so hand it R's columns
    val comps = Array.tabulate(d, d)((j, i) => model.rotation(i)(j))
    val ones = Array.fill(d)(1.0)
    df.select(col(idCol),
      zip_with(
        graft.expr.VectorExprs.affine_project(col(vecCol), comps,
          model.srcMean, ones),
        array(model.dstMean.map(lit).toSeq: _*),
        (a, b) => a + b).as("aligned"))
  }

  /** The persistable artifact ([[Bpe.mergesDf]] pattern): one row per kept
    * component (rank, eigenvalue, component vector) plus a rank = −1 row
    * carrying (totalVariance, mean). Write it next to the index/corpus;
    * [[pcaFromDf]] rehydrates.
    */
  def pcaToDf(spark: SparkSession, model: PcaModel): DataFrame = {
    import spark.implicits._
    val rows = (-1L, model.totalVariance, model.mean.toSeq) +:
      model.components.indices.map(i =>
        (i.toLong, model.eigenvalues(i), model.components(i).toSeq))
    rows.toDF("rank", "eigenvalue", "component")
  }

  /** Rehydrate [[pcaToDf]] output (the model is k+1 bounded rows — a
    * driver-side collect by construction, not a corpus read).
    */
  def pcaFromDf(df: DataFrame): PcaModel = {
    val rows = df.select("rank", "eigenvalue", "component").collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        Similarity.toDoubleArray(r.getSeq[Any](2))))
      .sortBy(_._1)
    require(rows.nonEmpty && rows.head._1 == -1L,
      "pcaFromDf: missing rank=-1 mean/trace row")
    val (_, trace, mean) = rows.head
    val comps = rows.tail
    PcaModel(mean, comps.map(_._2), comps.map(_._3), trace)
  }
}
