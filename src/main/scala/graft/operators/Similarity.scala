package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.chaining._

import graft.functions.VectorFns

/**
 * Approximate-nearest-neighbor search over an `ARRAY<FLOAT>` embedding
 * column: exact brute-force cosine top-k as the baseline, and a
 * random-hyperplane-LSH bucketed variant as the 100 TB scale path.
 */
object Similarity {

  /**
   * Exact cosine top-k: broadcast the (small) query set against the corpus,
   * one pass, rank per query. The corpus side never shuffles — the plan is
   * scan → broadcast-nested-loop → window on (query partition), so corpus
   * scale-out is linear. Emits (query_id, neighbor_id, rank).
   */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("vc"),
      VectorFns.norm(vecCol).as("nc"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("vq"),
      VectorFns.norm(vecCol).as("nq"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", VectorFns.dot("vq", "vc") / (col("nq") * col("nc")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /**
   * Per-label embedding centroids (class means — IVF seeding, dataset
   * cartography, per-cluster summaries): element-wise mean of the
   * embedding column per `labelCol`, emitted as (label, n_vectors,
   * centroid) with the centroid comma-joined (scalar row contract).
   *
   * Elements are scaled to exact micro-unit integers
   * (`round(x * 1e6)`) before summing: float addition is not
   * associative, so a naive `avg(float)` differs in the last ulp across
   * partitionings and engines — the scaled-integer sum is associative
   * and therefore partition-invariant and oracle-checkable
   * bit-for-bit. The centroid element stays in micro-units
   * (`floor(sum / n)` as BIGINT; both engines floor the same exact
   * double quotient — sums stay under 2^53 up to ~1e9 unit-norm
   * vectors per cell). Micro-unit precision is far below embedding
   * noise.
   *
   * Scale: explode to (label, dim) — both aggregates are hash
   * aggregates with map-side combine over (label, dim) then (label);
   * state is dimension-bounded per label, never corpus-bounded.
   */
  def embeddingCentroids(emb: DataFrame, labelCol: String = "label",
                         vecCol: String = "embedding"): DataFrame =
    emb.filter(col(vecCol).isNotNull)
      .select(col(labelCol).as("label"), posexplode(col(vecCol)))
      .groupBy(col("label"), col("pos"))
      .agg(
        sum(expr("CAST(round(CAST(col AS DOUBLE) * 1000000) AS BIGINT)"))
          .as("s"),
        count(lit(1)).as("n"))
      .withColumn("m",
        floor(col("s").cast("double") / col("n")).cast("long"))
      .groupBy("label")
      .agg(
        max(col("n")).as("n_vectors"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s("m").cast("string")), ",").as("centroid_micro"))
      .select(col("label"), col("n_vectors"), col("centroid_micro"))

  /**
   * Embedding-space corpus drift — did the REPRESENTATION of the
   * corpus move between two generations: cosine between the two sides'
   * mean vectors, kept integer-exact by never taking a square root —
   * the emitted statistic is cos2·10⁶ (floored) plus the dot-product
   * sign, which together carry the same decision information as cos
   * without an irrational value crossing an engine boundary. Centroids
   * are the per-dimension floored micro means ([[embeddingCentroids]]'
   * quantization); dot products of micro centroids stay well under
   * 2⁶³ for any realistic dim (dim·10¹² — ANSI throws rather than
   * wrapping if a pathological input exceeds it), and the squares ride
   * DECIMAL(38,0). `cos2_micro` is null when either centroid is the
   * zero vector (cosine undefined). Sides must share the embedding
   * dimension (the inner join on pos enforces it structurally). Emits
   * one row: (n_a, n_b, dim, dot_ab, cos_sign, cos2_micro).
   *
   * Scale: one posexplode hash-aggregate per side down to (pos, sum,
   * n) — dimension-sized frames; everything after the two corpus
   * passes is dim-cardinality.
   */
  def embeddingDrift(a: DataFrame, b: DataFrame,
                     vecCol: String = "embedding"): DataFrame = {
    def cent(df: DataFrame, m: String, n: String) =
      df.filter(col(vecCol).isNotNull)
        .select(posexplode(col(vecCol)))
        .groupBy("pos")
        .agg(sum(expr(
            "CAST(round(CAST(col AS DOUBLE) * 1000000) AS BIGINT)"))
            .as("__s"),
          count(lit(1)).as(n))
        .select(col("pos"),
          floor(col("__s").cast("double") / col(n)).cast("long").as(m),
          col(n))
    val dec = "decimal(38,0)"
    cent(a, "__am", "__an").join(cent(b, "__bm", "__bn"), Seq("pos"))
      .agg(max(col("__an")).as("n_a"), max(col("__bn")).as("n_b"),
        count(lit(1)).as("dim"),
        sum(col("__am") * col("__bm")).as("__ab"),
        sum(col("__am") * col("__am")).as("__aa"),
        sum(col("__bm") * col("__bm")).as("__bb"))
      .select(col("n_a"), col("n_b"), col("dim"),
        col("__ab").as("dot_ab"),
        signum(col("__ab")).cast("long").as("cos_sign"),
        when(col("__aa") > 0 && col("__bb") > 0, expr(
          s"CAST((CAST(__ab AS $dec) * __ab * 1000000) DIV " +
            s"(CAST(__aa AS $dec) * __bb) AS BIGINT)")).as("cos2_micro"))
  }

  /**
   * Symmetric int8 quantization of the embedding column: per-vector scale
   * = 127 / max(|x|), q_i = round(x_i * scale) — the standard 4x storage
   * compression for embedding corpora. One narrow projection; the max
   * rides in its own column so lambdas only capture cheap attributes
   * (never recompute an aggregate per element). Zero vectors quantize to
   * all zeros with scale 0. The quantized vector is emitted as a
   * comma-joined string so the result row is scalar-typed end to end
   * (sortable/hashable by any downstream comparator or sink).
   */
  def quantizeInt8(emb: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    emb
      .withColumn("__maxabs",
        expr(s"array_max(transform($vecCol, x -> abs(CAST(x AS DOUBLE))))"))
      .withColumn("scale",
        when(col("__maxabs") > 0, lit(127.0) / col("__maxabs"))
          .otherwise(lit(0.0)))
      .select(col(idCol),
        expr(s"array_join(transform($vecCol, x -> " +
             "CAST(CAST(round(CAST(x AS DOUBLE) * scale) AS INT) AS STRING)), ',')")
          .as("q"),
        col("scale"))

  /** Deterministic pseudo-random hyperplane component in [-1, 1]: pure
   * arithmetic over (plane, dim) so signatures are reproducible across
   * runs, engines, and cluster sizes (no RNG state to ship). Two LCG
   * rounds with an xorshift mix between them — the mix is load-bearing:
   * one LCG round alone is AFFINE in the seed `plane * 131 + dim + 1`,
   * which correlates planes so strongly that multi-table recall lands
   * far below the independent-plane model (measured 0.38 vs modeled
   * 0.98 at 9 planes x 7 tables on planted cosine-0.96 near-dup
   * pairs); with the mix, measured recall matches the model and the
   * [[lshLayout]] derivation becomes trustworthy. Every intermediate
   * stays in [0, 2^31), so no abs is needed and 64-bit products never
   * overflow. The same closed form lives in
   * [[graft.plans.HyperplaneSig]] (the fused native signature used by
   * [[hyperplaneLshPairs]]) and in the DuckDB oracle's generate_series
   * recomputation — all three must stay identical. */
  private[graft] def planeComponent(plane: Int, dim: Int): Double = {
    val x1 = (1103515245L * (plane * 131L + dim + 1) + 12345L) % 2147483647L
    val x2 = x1 ^ (x1 >> 13)
    val x3 = (1103515245L * x2 + 12345L) % 2147483647L
    (x3 % 2001L - 1000L) / 1000.0
  }

  /**
   * Deterministic IVF (inverted-file) centroid training: seeds are the
   * `nlist` lowest-id vectors, optionally refined by Lloyd iterations
   * (assign-all + per-dimension mean; each iteration is one Spark job over
   * typed-literal centroids). `iters = 0` (default) keeps training fully
   * deterministic across partitionings — mean aggregation order can
   * perturb last-ulp bits and flip borderline assignments otherwise.
   * Returns `nlist x dim` centroid rows collected to the driver (small:
   * nlist is hundreds-to-thousands at 100 TB, never corpus-sized).
   */
  def trainIvfCentroids(emb: DataFrame, nlist: Int, dim: Int, iters: Int = 0,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): Seq[Seq[Double]] = {
    val seeds = emb.orderBy(col(idCol)).limit(nlist)
      .select(col(vecCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toSeq).toSeq
    (0 until iters).foldLeft(seeds) { (cents, _) =>
      val assigned = withIvfCell(emb, cents, vecCol)
      val means = assigned
        .select(col("__cell"), posexplode(col(vecCol)).as(Seq("__pos", "__v")))
        .groupBy("__cell", "__pos").agg(avg(col("__v")).as("__m"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      val byCell = means.groupBy(_._1)
      cents.indices.map { c =>
        byCell.get(c + 1) match { // cells are 1-based (array_position)
          case Some(ms) => ms.sortBy(_._2).map(_._3).toSeq
          case None     => cents(c) // empty cell keeps its seed
        }
      }
    }
  }

  /**
   * Deterministic spherical k-means centroids (the oracle-exact sibling of
   * [[trainIvfCentroids]]'s float-mean refinement): Lloyd iterations where
   * the update step is the floored micro-unit INTEGER mean of the members'
   * components — associative BIGINT sums, so the refined centroids are
   * bit-identical across partitionings, runs, and the DuckDB oracle (a
   * float `avg` would be summation-order-dependent and could flip
   * borderline assignments). Empty clusters keep their previous centroid.
   * Per round, the distributed (cell, pos) aggregate's result — nlist x
   * dim longs — is the only thing collected to the driver.
   */
  def kmeansCentroids(emb: DataFrame, nlist: Int, iters: Int,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Seq[Seq[Double]] = {
    val seeds = emb.orderBy(col(idCol)).limit(nlist)
      .select(col(vecCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toSeq).toSeq
    (0 until iters).foldLeft(seeds) { (cents, _) =>
      val means = withIvfCell(emb, cents, vecCol)
        .select(col("__cell").as("__c"),
          posexplode(col(vecCol)).as(Seq("__pos", "__v")))
        .groupBy("__c", "__pos")
        .agg(
          sum(expr("CAST(round(CAST(__v AS DOUBLE) * 1000000) AS BIGINT)"))
            .as("__s"),
          count(lit(1)).as("__n"))
        .withColumn("__m",
          floor(col("__s").cast("double") / col("__n")).cast("long"))
        .select("__c", "__pos", "__m")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      val byCell = means.groupBy(_._1)
      cents.indices.map { ci =>
        byCell.get(ci + 1) match { // cells are 1-based (array_position)
          case Some(ms) => ms.sortBy(_._2).map(_._3 / 1e6).toSeq
          case None     => cents(ci) // empty cluster keeps its centroid
        }
      }
    }
  }

  /**
   * Spherical k-means clustering of the embedding corpus — the clustering
   * stage SemDeDup-style pipelines and IVF index builds share: train
   * [[kmeansCentroids]] (deterministic seeds + integer-mean Lloyd rounds),
   * then assign every vector to its argmax-cosine cluster (first-max tie
   * via array_position) and attach the exact cluster size.
   *
   * Scale: per Lloyd round, one distributed hash aggregate over exploded
   * (cell, pos) pairs; assignment is a narrow projection against
   * typed-literal centroids (no join, corpus never shuffles); the size
   * attach is a broadcast of at most `nlist` rows.
   */
  def kmeansEmbed(emb: DataFrame, nlist: Int = 8, iters: Int = 1,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val cents = kmeansCentroids(emb, nlist, iters, idCol, vecCol)
    val assigned = withIvfCell(emb, cents, vecCol)
      .select(col(idCol), col("__cell").cast("long").as("cluster"))
    val sizes = assigned.groupBy("cluster")
      .agg(count(lit(1)).as("cluster_size"))
    assigned.join(broadcast(sizes), Seq("cluster"))
      .select(col(idCol), col("cluster"), col("cluster_size"))
  }

  /**
   * Product-quantization encoding (Jégou et al., "Product Quantization
   * for Nearest Neighbor Search", TPAMI 2011): the vector is split into
   * `m` contiguous subspaces and each subvector is replaced by the index
   * of its nearest codebook centroid — `m` small integers instead of
   * `dim` floats (64 floats -> 4 bytes here), the standard memory layout
   * for billion-vector ANN indexes. Codebooks follow the library's
   * deterministic-seed convention (the first `k` vectors by id, sliced
   * per subspace; see [[trainIvfCentroids]]), so codes are reproducible
   * across runs, partitionings, and the DuckDB oracle.
   *
   * Nearest-by-L2 is evaluated as `argmax(dot(x, c) - ||c||²/2)` — the
   * MIPS identity, which spares recomputing `||x||²` per centroid; the
   * centroid self-products are driver-precomputed doubles folded in index
   * order, matching the oracle's fold exactly. First-max ties via
   * `array_position`.
   *
   * Scale: one narrow codegen'd projection against typed-literal
   * codebooks — no join, no shuffle; the driver collects only the `k`
   * seed vectors.
   */
  def pqEncode(emb: DataFrame, m: Int = 4, k: Int = 16, dim: Int = 64,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val books = pqCodebook(emb, m, k, dim, idCol, vecCol)
    val coded = withPqCodes(emb, books, dim / m, vecCol)
    coded.select(col(idCol),
      concat_ws(",", books.indices
        .map(j => col(s"__code$j").cast("string")): _*).as("code"))
  }

  /** Per-subspace PQ codebooks from the deterministic first-k-ids seeds:
   * for subspace `j`, (centroid subvectors, precomputed `||c||²/2` MIPS
   * biases — folded in index order, matching the oracle's fold). */
  private def pqCodebook(emb: DataFrame, m: Int, k: Int, dim: Int,
                         idCol: String, vecCol: String)
      : Seq[(Seq[Seq[Double]], Seq[Double])] = {
    require(dim % m == 0, "dim must divide into m subspaces")
    val dsub = dim / m
    val seeds = emb.orderBy(col(idCol)).limit(k)
      .select(col(vecCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toSeq).toSeq
    (0 until m).map { j =>
      val cb = seeds.map(_.slice(j * dsub, (j + 1) * dsub))
      (cb, cb.map(c => c.foldLeft(0.0)((a, x) => a + x * x) * 0.5))
    }
  }

  /** The residual of a row's vector against its assigned cell's RAW
   * (corpus-scale) centroid, as ARRAY<DOUBLE> — requires `__cell` from
   * [[withIvfCell]] and a `__rawcents` typedLit column upstream.
   * RAW, not the unit-normalized routing matrix: subtracting a norm-1
   * vector from corpus-scale vectors leaves ~the original vector (the
   * round-18 drill measured the unit-residual curve IDENTICAL to raw
   * PQ's 0.008), while the corpus-scale residual is the jitter-level
   * structure IVFADC exists to encode. `zip_with` keeps the
   * per-component subtraction a single narrow projection. */
  private def residualExpr(vecCol: String): String =
    s"""zip_with(CAST($vecCol AS ARRAY<DOUBLE>),
       |         element_at(__rawcents, __cell), (a, b) -> a - b)""".stripMargin

  /** [[pqCodebook]] over RESIDUALS (vec - unit centroid of the vector's
   * cell) — the IVFADC codebook (Jégou et al. TPAMI'11 §IV.C: encode
   * the residual, whose codebook resolves exactly the within-cell
   * structure a raw-vector codebook erases; measured on the round-18
   * 1M clustered drill as ADC recall 0.008 raw vs high residual).
   * Seeds follow the library's deterministic contract: the first `k`
   * residuals by id, sliced per subspace — closed-form recomputable by
   * the DuckDB oracle from the same centroid seed set. */
  private def pqResidualCodebook(emb: DataFrame, cents: Seq[Seq[Double]],
                                 m: Int, k: Int, dim: Int,
                                 idCol: String, vecCol: String)
      : Seq[(Seq[Seq[Double]], Seq[Double])] = {
    require(dim % m == 0, "dim must divide into m subspaces")
    val dsub = dim / m
    // seeds start AFTER the first nlist ids: those ARE the centroid
    // seed set, so their residuals are identically zero — an all-zeros
    // codebook that collapses every code (found by the round-18 1M
    // drill: the "residual" curve read exactly like raw PQ's until the
    // seed ranges were made disjoint)
    val seeds = withIvfCell(
        emb.orderBy(col(idCol)).offset(cents.size).limit(k), cents, vecCol)
      .withColumn("__rawcents", typedLit(cents))
      .withColumn("__res", expr(residualExpr(vecCol)))
      .orderBy(col(idCol))
      .select(col("__res")).collect()
      .map(_.getSeq[Double](0).toSeq).toSeq
    // a NON-empty corpus with <= nlist rows leaves zero residual seeds
    // (every row IS a centroid seed) — an empty codebook would make
    // ivfPqTopK(residual=true) silently return nothing and writePqIndex
    // blame an "empty corpus" (ADVICE r18). Loud and actionable instead;
    // cents.isEmpty (genuinely empty corpus) keeps the callers' empty
    // short-circuits.
    require(cents.isEmpty || seeds.nonEmpty,
      s"residual codebook needs a corpus LARGER than nlist=${cents.size} " +
        "rows (seeds draw from the ids after the centroid seed range, " +
        "whose own residuals are identically zero) — grow the corpus, " +
        "lower nlist, or use residual = false")
    (0 until m).map { j =>
      val cb = seeds.map(_.slice(j * dsub, (j + 1) * dsub))
      (cb, cb.map(c => c.foldLeft(0.0)((a, x) => a + x * x) * 0.5))
    }
  }

  /** Attach `__corr` — the per-row BIGINT micro-unit correction that
   * makes residual ADC rank by the true L2-on-reconstruction MIPS
   * score: `corr = ||c||²/2 + dot(c, recon) + ||recon||²/2`, with `c`
   * the cell's RAW centroid and recon the CODES' reconstruction
   * (element_at over the codebook literals), floored to micro-units
   * once at the end. Computed at BUILD time from (`__rawcents`,
   * `__cell`, `__code0..m-1`) — query time never touches it beyond a
   * BIGINT subtract. The j-terms fold left-to-right in subspace order
   * and `||recon_j||²/2` reuses the codebook bias arrays, so the
   * DuckDB oracle reproduces the double arithmetic bit-for-bit. */
  private def withResidualCorr(df: DataFrame,
                               books: Seq[(Seq[Seq[Double]], Seq[Double])],
                               dsub: Int): DataFrame = {
    val m = books.size
    val withLits = books.zipWithIndex.foldLeft(df) {
      case (d, ((cb, bias), j)) =>
        d.withColumn(s"__ccb$j", typedLit(cb))
          .withColumn(s"__cbias$j", typedLit(bias))
    }
    val terms = (0 until m).map { j =>
      s"""(graft_dot(slice(element_at(__rawcents, __cell), ${j * dsub + 1}, $dsub),
         |           element_at(__ccb$j, __code$j))
         | + element_at(__cbias$j, __code$j))""".stripMargin
    }.mkString(" + ")
    // the 0.5·||c||² term is added LAST so the double-addition grouping
    // is (((t0+t1)+t2)+...)+0.5cc — the exact shape the DuckDB oracle
    // writes (addition is not associative; a different grouping can
    // flip floor() on a knife-edge value)
    withLits.withColumn("__corr", expr(
      s"""CAST(floor((($terms)
         |  + 0.5 * graft_dot(element_at(__rawcents, __cell),
         |                    element_at(__rawcents, __cell)))
         |  * 1000000) AS BIGINT)""".stripMargin))
  }

  /** Attach `__code0..__code{m-1}` — each subvector's nearest centroid
   * index by L2, via argmax of the MIPS score `dot(x,c) - ||c||²/2`
   * (first-max ties through array_position). Narrow projection. */
  private def withPqCodes(df: DataFrame,
                          books: Seq[(Seq[Seq[Double]], Seq[Double])],
                          dsub: Int, vecCol: String): DataFrame =
    books.zipWithIndex.foldLeft(df) { case (d, ((cb, bias), j)) =>
      // NATIVE fused encode ([[graft.plans.PqCode]]): the codebook and
      // biases ride as driver values and the subvector window is read
      // in place. The previous HOF chain paid, per corpus row and
      // subspace, ksub interpreted lambda dispatches each doing a
      // fresh slice() subvector COPY plus a boxed virtual graft_dot
      // call (the twice-referenced `__sc` alias is not collapsed into
      // the argmax — plan-verified — the transform runs once; the
      // dispatch/copy/boxing overhead alone measured 368 s/1M rows at
      // m=8, ksub=256 vs 4.7 s fused) — the PQ index-build kernel. An
      // EMPTY codebook
      // (empty corpus) keeps the old chain's value semantics via a
      // typed null: zero rows evaluate it nowhere, and eager PqCode
      // construction would reject k = 0 at the driver.
      val code =
        if (cb.isEmpty) lit(null).cast("int")
        else org.apache.spark.sql.GraftColumnBridge.column(
          graft.plans.PqCode(
            org.apache.spark.sql.GraftColumnBridge.expression(col(vecCol)),
            cb.flatten.toArray, cb.size, dsub, j * dsub, bias.toArray))
      d.withColumn(s"__code$j", code)
    }

  /**
   * Asymmetric-distance (ADC) top-k over PQ codes — the query path that
   * makes product quantization pay: the corpus side is scanned as `m`
   * small code columns (never the raw vectors), and each query ships only
   * an `m x k` lookup table of per-centroid score contributions. A
   * candidate's score is `m` array lookups and adds — no per-pair dot
   * product.
   *
   * Each LUT entry is floored to integer micro-units BEFORE the sum, so
   * the ADC total is an associative BIGINT sum — bit-identical across
   * engines and summation orders (a raw double sum would be
   * order-dependent). Ranking ties break on neighbor id.
   *
   * Scale: codes + LUTs via narrow projections; candidates via
   * broadcast-NLJ (queries tiny, corpus codes unshuffled); per-query
   * top-k through one window over the query's candidate rows.
   */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
             m: Int = 4, kcent: Int = 16, dim: Int = 64,
             idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    val dsub = dim / m
    val books = pqCodebook(corpus, m, kcent, dim, idCol, vecCol)
    // Empty corpus -> empty codebooks. The LUT transform would then be
    // `sequence(1, 0)` = [1, 0] (Spark sequences DESCEND when stop <
    // start) and element_at(..., 0) throws on every QUERY row — the
    // query side has rows to evaluate even though the corpus does not.
    // An empty top-k is the correct result, so short-circuit.
    if (books.head._1.isEmpty)
      return queries.limit(0)
        .select(col(idCol).as("query_id"), col(idCol).as("neighbor_id"),
          lit(0L).as("rank"))
    val coded = withPqCodes(corpus, books, dsub, vecCol)
      .select(col(idCol).as("neighbor_id") +:
        (0 until m).map(j => col(s"__code$j")): _*)
    val qlut = books.zipWithIndex.foldLeft(queries) {
      case (d, ((cb, bias), j)) =>
        d.withColumn(s"__qcb$j", typedLit(cb))
          .withColumn(s"__qbias$j", typedLit(bias))
          .withColumn(s"__qs$j", expr(
            s"""transform(sequence(1, ${cb.size}),
               |  i -> CAST(floor((graft_dot(slice($vecCol, ${j * dsub + 1}, $dsub),
               |                             element_at(__qcb$j, i))
               |                   - element_at(__qbias$j, i)) * 1000000)
               |       AS BIGINT))""".stripMargin))
    }.select(col(idCol).as("query_id") +:
      (0 until m).map(j => col(s"__qs$j")): _*)
    val adc = (0 until m)
      .map(j => s"element_at(__qs$j, __code$j)").mkString(" + ")
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("neighbor_id").asc)
    coded.crossJoin(broadcast(qlut))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", expr(adc))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /** Attach `__cell` = 1-based index of the nearest centroid (by cosine
   * against unit-normalized centroids — equivalently max dot / norm). */
  private def withIvfCell(emb: DataFrame, centroids: Seq[Seq[Double]],
                          vecCol: String): DataFrame = {
    // Loud, actionable failure instead of a bare NoSuchElementException
    // from unit.head: an empty corpus gives trainIvfCentroids nothing to
    // seed from, and every caller (ivfTopK, writeIvfIndex, ivfPqTopK)
    // is better served by this message than by head-of-empty.
    require(centroids.nonEmpty,
      "IVF needs at least one centroid (empty corpus?)")
    val unit = centroids.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0) c else c.map(_ / n)
    }
    val cdim = unit.head.size
    require(unit.forall(_.size == cdim),
      s"ragged centroid matrix: expected every centroid at dim $cdim")
    val flat = unit.flatten.toArray
    emb
      .withColumn("__cents", typedLit(unit))
      // dot against every centroid in one pass (native loop per centroid)
      .withColumn("__dists", expr(
        s"transform(__cents, c -> graft_dot($vecCol, c))"))
      // `__cell` via the NATIVE fused argmax loop ([[graft.plans
      // .NearestCell]]), NOT an argmax over `__dists`: the corpus-side
      // assignment is the index-build kernel (once per corpus row), and
      // every SQL-level formulation measured pays nlist interpreted
      // lambda dispatches + a boxed virtual graft_dot call per centroid
      // per row (the twice-referenced `__dists` alias is NOT collapsed
      // into the argmax — plan-verified — so the transform runs once;
      // dispatch + boxing alone cost ~4x the fused loop at nlist=1000).
      // Callers that use only `__cell` never evaluate
      // `__dists`/`__cents` at all (column pruning); the query-side
      // probe ranking still reads `__dists` via the HOF chain, whose
      // cost is nprobe-rows small. Null/tie semantics are pinned
      // identical to the chain in NearestCell's scaladoc + law spec.
      .withColumn("__cell", org.apache.spark.sql.GraftColumnBridge
        .column(graft.plans.NearestCell(
          org.apache.spark.sql.GraftColumnBridge.expression(col(vecCol)),
          flat, unit.size, cdim)))
  }

  /** `__probes` = the `nprobe` nearest cells from `__dists`, with
   * `__dists` in HOF ARGUMENT position (zip_with input), where it is
   * evaluated once per row. The previous form indexed it INSIDE a
   * transform lambda (element_at(__dists, i)), and CollapseProject
   * inlined the whole nlist-dot transform into the per-element body —
   * O(nlist²) dots per query row. Invisible at the fixture's nlist=16;
   * at the production contract nlist ≈ √n it turns each query row into
   * an O(n) scan (measured: 105 s for 256 queries at nlist=1000 — the
   * round-17 1M-vector drill, BENCH_scaling.md; sub-second after this
   * rewrite). House rule (first measured on the chunking family, round
   * 9): expensive intermediates ride in HOF input arguments, never in
   * lambda bodies. */
  private def probesExpr(nlist: Int, nprobe: Int): String =
    s"""slice(array_sort(
       |  zip_with(__dists, sequence(1, $nlist),
       |           (d, i) -> struct(-d AS d, i AS idx))),
       |  1, $nprobe)""".stripMargin

  /**
   * IVF approximate top-k: corpus vectors live in their nearest centroid's
   * cell; each query probes its `nprobe` nearest cells and ranks only the
   * vectors inside them. Candidate volume is ~`nprobe/nlist` of the corpus
   * per query — the scale path when broadcast-brute-force over the full
   * corpus is infeasible. Recall < 1 by construction (rows-only check).
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
              nlist: Int = 16, nprobe: Int = 4, dim: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding",
              broadcastQueries: Boolean = true): DataFrame = {
    val cents = trainIvfCentroids(corpus, nlist, dim, iters = 0, idCol, vecCol)
    val c = withIvfCell(corpus, cents, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("vc"),
        VectorFns.norm(vecCol).as("nc"), col("__cell").as("cell"))
    val q0 = withIvfCell(queries, cents, vecCol)
      .withColumn("__probes", expr(probesExpr(cents.size, nprobe)))
      .select(col(idCol).as("query_id"), col(vecCol).as("vq"),
        VectorFns.norm(vecCol).as("nq"),
        explode(expr("transform(__probes, p -> p.idx)")).as("cell"))
    // A small external query set ships to every corpus partition
    // (broadcast, corpus never moves). When queries ARE the corpus
    // (self-kNN — mutualKnnPairsIvf), broadcasting an O(n) frame is the
    // wrong plan: fall through to a shuffle join on `cell` and let AQE
    // pick; nlist must grow with the corpus (~sqrt(n)) for cells to stay
    // bounded, same contract as semantic_dedup's cells.
    // (round 22: a pre-join widen of both cell-join inputs was tried
    // here to spread the dot products — it regressed the self-kNN path
    // 2.5 s -> 11-17 s at sf0.1 by displacing the planner's broadcast
    // hash join, and was reverted. The post-join window widen below is
    // the measured win; the scoring stage's width at scale comes from
    // the shuffle join on nlist ≈ √n cells.)
    val q = if (broadcastQueries) broadcast(q0) else q0
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val scored = c.join(q, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", VectorFns.dot("vq", "vc") / (col("nq") * col("nc")))
    // Self-kNN path (round 22): the candidate stream is
    // ~n·k·(nprobe/nlist) narrow (query, neighbor, cos) rows whose
    // per-query ranking is pure CPU — the window's own ENSURE exchange
    // is byte-coalesced by AQE onto 1-2 partitions at bench scale
    // (guide §2.6 / Par scaladoc). Project the payload off early
    // (§2.3) and pin the window's clustering wide: same exchange
    // count, non-coalescible origin, and the window needs only a local
    // sort on top. The broadcast-queries path (bounded external query
    // sets) keeps its original plan untouched.
    val ranked =
      if (broadcastQueries) scored
      else Par.widen(scored.select("query_id", "neighbor_id", "cos"),
        col("query_id"))
    ranked
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /**
   * Recall-targeted nprobe calibration (round 18 — the operational
   * lesson of the round-17 adversarial sweep: query wall is FLAT in
   * nprobe until candidate volume grows an order, so under-probing is
   * pure recall loss; the right nprobe is a property of the
   * corpus/centroid geometry, not a constant). Chooses the SMALLEST
   * power-of-two nprobe whose measured recall@k on a bounded,
   * deterministic self-query sample meets `targetRecall`:
   *
   *   1. sample = the `sample` corpus vectors with the lowest
   *      `xxhash64(id)` (deterministic, corpus-order-independent);
   *   2. ground truth = exact [[bruteForceTopK]] for the sample
   *      (O(sample x corpus) dots — bounded, a few seconds at 1M);
   *   3. ascend nprobe 1, 2, 4, ... re-ranking ONLY the sample until
   *      recall >= target. Probing all `nlist` cells reproduces exact
   *      brute force (identical tie-breaks), so the ascent always
   *      terminates at recall 1.0 when `maxNprobe` >= nlist; a target
   *      unreachable within `maxNprobe` < nlist throws with the
   *      measured curve in the message (raise the cap or lower the
   *      target) rather than silently under-delivering.
   *
   * Returns (chosen nprobe, the measured (nprobe, recall) curve).
   * Deterministic end to end, so index rebuilds on the same corpus
   * choose the same nprobe. Scale: every step is a probe join over
   * `sample` broadcast queries — the corpus-side work is the one cell
   * assignment, shared across steps via an eager checkpoint.
   *
   * The calibration set should look like the WORKLOAD: the default
   * self-sample prices the corpus's own geometry, which on clustered
   * corpora is the happy path (a corpus vector's true neighbors mostly
   * share its cell) — a boundary-heavy workload (e.g. queries landing
   * between clusters) needs more probes than self-queries reveal. Pass
   * a bounded `queries` sample of the real workload for those; ids
   * must not collide with corpus ids (ground truth excludes self-id
   * matches).
   *
   * The accept rule is `recall − margin ≥ target`, where margin =
   * `marginZ · sd(per-query recall) / √sample` — a one-sided
   * confidence bound on the SAMPLE's estimate (round 19; the round-18
   * 10M drill measured a 64-query point estimate over-reading held-out
   * recall by +0.15, so a target met by 0.01 on the sample could miss
   * by 0.1 in production). `marginZ = 1.645` ≈ one-sided 95%;
   * `marginZ = 0` restores the point-estimate rule. A recall of
   * exactly 1.0 has zero dispersion, so margin never blocks an exact
   * target. When the margin (not the point estimate) is what blocks
   * acceptance, the failure message says so — grow `sample` to tighten
   * the bound rather than raising probes.
   */
  def calibrateNprobe(corpus: DataFrame, cents: Seq[Seq[Double]],
                      targetRecall: Double, k: Int = 10,
                      sample: Int = 64, maxNprobe: Int = 64,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      queries: Option[DataFrame] = None,
                      marginZ: Double = 1.645): (Int, Seq[(Int, Double)]) = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in (0, 1], got $targetRecall")
    require(sample >= 1, s"sample must be >= 1, got $sample")
    val nlist = cents.size
    // bounded deterministic calibration sample (workload-supplied or
    // corpus self-sample); pinned — referenced by the ground truth AND
    // every nprobe step
    val q = queries.getOrElse(corpus)
      .select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol)), col(idCol)).limit(sample)
      .localCheckpoint(true)
    val truth = bruteForceTopK(corpus, q, k, idCol, vecCol)
      .select("query_id", "neighbor_id").localCheckpoint(true)
    val denom = truth.count().toDouble
    if (denom == 0) return (1, Seq((1, 1.0))) // degenerate singleton corpus
    val cells = withIvfCell(corpus, cents, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("vc"),
        VectorFns.norm(vecCol).as("nc"), col("__cell").as("cell"))
      // EAGER by repo law: a lazy localCheckpoint whose first
      // materialization lands on a broadcast-exchange build thread
      // deadlocks the driver (markCheckpointed on the exchange thread
      // vs getCacheLocs in the DAG scheduler — jstack-confirmed, round
      // 19). The creating thread must materialize its own checkpoint.
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cap = math.min(maxNprobe, nlist)
    val steps = (Iterator.iterate(1)(_ * 2).takeWhile(_ < cap).toSeq :+ cap)
      .distinct
    val curve = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    var lastMargin = 0.0
    for (np <- steps) {
      val got = ivfProbeRank(cells, q, cents, k, np, idCol, vecCol,
          dedupCandidates = false)
        .select("query_id", "neighbor_id")
      val (recall, margin) = recallStats(got, truth, denom, marginZ)
      curve += ((np, recall))
      lastMargin = margin
      if (recall - margin >= targetRecall) return (np, curve.toSeq)
    }
    throw new IllegalArgumentException(
      s"recall target $targetRecall unreachable within maxNprobe=" +
        s"$maxNprobe of nlist=$nlist cells; measured curve: " +
        curve.map { case (n, r) => f"nprobe=$n%d->$r%.3f" }.mkString(", ") +
        (if (curve.last._2 >= targetRecall)
          f" — the POINT estimate meets the target but the sample's" +
            f" dispersion margin (${lastMargin}%.3f at z=$marginZ%.2f)" +
            " does not: grow `sample` to tighten the bound"
        else " — raise maxNprobe (nlist probes = exact) or lower the target"))
  }

  /** Pooled recall plus a one-sided dispersion margin for a calibration
   * step: `got`/`truth` are (query_id, neighbor_id) frames; pooled
   * recall = |got ∩ truth| / |truth| (the value every curve publishes),
   * margin = `z · sd(per-query recall) / √nTruthQueries` — nQ is the
   * number of queries WITH truth rows, which can sit below `sample` on
   * tiny corpora. The margin is a HEURISTIC dispersion penalty, not an
   * exact one-sided CI on the pooled value: it is the standard error of
   * the per-query MEAN recall, and when per-query truth counts differ
   * (corpus smaller than k+1 for some queries) the mean and the pooled
   * ratio are different estimators — the penalty still shrinks as 1/√nQ
   * and still prices spread, which is the accept rule's job (ADVICE
   * r19). One bounded collect of ≤ sample per-query rows. z = 0
   * short-circuits to the point-estimate rule with a single count. */
  private[graft] def recallStats(got: DataFrame, truth: DataFrame,
                                 denom: Double, z: Double): (Double, Double) = {
    val joined = got.join(truth, Seq("query_id", "neighbor_id"))
    if (z <= 0.0) return (joined.count() / denom, 0.0)
    val perQ = truth.groupBy("query_id").agg(count("*").as("__t"))
      .join(joined.groupBy("query_id").agg(count("*").as("__h")),
        Seq("query_id"), "left")
      .select((coalesce(col("__h"), lit(0L)).cast("double") / col("__t"))
        .as("__r"), col("__h"))
      .collect()
    val rs = perQ.map(_.getDouble(0))
    val hits = perQ.map(r => if (r.isNullAt(1)) 0L else r.getLong(1)).sum
    val nQ = rs.length
    val mean = rs.sum / nQ
    val sd =
      if (nQ < 2) 0.0
      else math.sqrt(rs.map(r => (r - mean) * (r - mean)).sum / (nQ - 1))
    (hits / denom, z * sd / math.sqrt(nQ.toDouble))
  }

  // ---- workload-shift fingerprint (round 20) -------------------------
  // The dispersion margin budgets SAMPLING noise; it cannot see
  // workload SHIFT — an index calibrated on workload A silently serves
  // workload B at whatever recall it gets (round-18's +0.15 gap was
  // shift between group families, not sampling). The fingerprint makes
  // the gap loud: calibration persists the deciles of each sample
  // query's max cosine to the routing centroids (how "at home" the
  // workload is in the index's cell structure), and the autoNprobe
  // query paths compare a live batch's distribution against it. The
  // guard is ONE-SIDED on the far side: queries sitting farther from
  // every centroid than the calibration workload is the configuration
  // that under-delivers recall; a closer workload can only over-probe.

  /** Max cosine to any routing centroid for each vector — pure driver
   * math over the nlist-bounded centroid matrix and a ≤sample-bounded
   * vector list (the [[trainIvfCentroids]] driver contract). */
  private def nearestCentroidCos(vecs: Seq[Seq[Double]],
                                 cents: Seq[Seq[Double]]): Seq[Double] = {
    val unit = cents.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0) c else c.map(_ / n)
    }
    vecs.map { v =>
      val vn = math.sqrt(v.map(x => x * x).sum)
      if (vn == 0) 0.0
      else unit.map { c =>
        var s = 0.0; var i = 0
        while (i < c.length && i < v.length) { s += c(i) * v(i); i += 1 }
        s / vn
      }.max
    }
  }

  /** Linear-interpolated deciles (p0, p10, …, p100) of a non-empty
   * driver-side value list. */
  private[graft] def deciles(vals: Seq[Double]): Seq[Double] = {
    val s = vals.sorted.toIndexedSeq
    (0 to 10).map { q =>
      val pos = q * (s.length - 1) / 10.0
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      val f = pos - lo
      s(lo) * (1 - f) + s(hi) * f
    }
  }

  /** The deterministic bounded vector sample every fingerprint path
   * shares — the calibrators' xxhash-ordered derivation. */
  private def sampleVecs(df: DataFrame, n: Int, idCol: String,
                         vecCol: String): Seq[Seq[Double]] =
    df.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .orderBy(xxhash64(col(idCol)), col(idCol)).limit(n)
      .collect().map(_.getSeq[Double](1).toSeq).toSeq

  /** The persisted calibration-workload fingerprint — (sample size,
   * 11 deciles of nearest-centroid cosine), written by a calibrated
   * [[writePqIndex]]. None on uncalibrated or pre-round-20 indexes. */
  def pqCalibrationFingerprint(spark: org.apache.spark.sql.SparkSession,
                               baseTable: String)
      : Option[(Int, Seq[Double])] =
    spark.table(baseTable + "_pqmeta")
      .filter(col("kind") === "cal_fp")
      .select("j", "vec").limit(1).collect().headOption
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq))

  /**
   * Compare a live query batch's nearest-centroid-cosine distribution
   * against the persisted calibration fingerprint of `baseTable`.
   * Returns the SHIFT FRACTION — the share of the live sample sitting
   * below the calibration workload's p10 — or None when the index
   * carries no fingerprint (pre-round-20 or uncalibrated) or the batch
   * is empty, in which case the guard silently passes (backward
   * compatible). `guard`:
   *   - "off"    — skip entirely (no sample job);
   *   - "warn"   — stderr warning when the fraction exceeds
   *                `maxShiftFrac` (default: half the batch is farther
   *                from every centroid than 90% of the calibration
   *                workload — same-family batches sit near 0.10 by
   *                construction);
   *   - "refuse" — throw IllegalStateException instead.
   * Cost: one ≤fingerprint-sample collect + nlist×sample driver
   * multiplies per query batch — noise next to a single probe join.
   */
  def checkWorkloadShift(queries: DataFrame, baseTable: String,
                         guard: String = "warn",
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         maxShiftFrac: Double = 0.5): Option[Double] = {
    require(Set("off", "warn", "refuse")(guard),
      s"guard must be off, warn or refuse, got '$guard'")
    if (guard == "off") return None
    val spark = queries.sparkSession
    checkShiftCore(queries, pqCalibrationFingerprint(spark, baseTable),
      () => pqRouting(spark, baseTable)._1, s"PQ index '$baseTable'",
      guard, idCol, vecCol, maxShiftFrac)
  }

  /** The persisted IVF calibration-workload fingerprint — the
   * [[pqCalibrationFingerprint]] twin, riding `_centroids`' `cal_fp`
   * column as [sample size, 11 deciles]. None on uncalibrated or
   * pre-round-20 indexes. */
  def ivfCalibrationFingerprint(spark: org.apache.spark.sql.SparkSession,
                                baseTable: String)
      : Option[(Int, Seq[Double])] = {
    val t = spark.table(baseTable + "_centroids")
    if (!t.columns.contains("cal_fp")) None
    else t.select("cal_fp").filter(col("cal_fp").isNotNull)
      .limit(1).collect().headOption
      .map { r => val v = r.getSeq[Double](0); (v.head.toInt, v.tail.toSeq) }
  }

  /** [[checkWorkloadShift]] for the plain-IVF index family: compares a
   * live batch against the `cal_fp` fingerprint a recall-targeted
   * [[writeIvfIndex]] persists. Same guard semantics, same one-sided
   * far-shift rule, same silent pass on fingerprint-less indexes. */
  def checkIvfWorkloadShift(queries: DataFrame, baseTable: String,
                            guard: String = "warn",
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            maxShiftFrac: Double = 0.5): Option[Double] = {
    require(Set("off", "warn", "refuse")(guard),
      s"guard must be off, warn or refuse, got '$guard'")
    if (guard == "off") return None
    val spark = queries.sparkSession
    checkShiftCore(queries, ivfCalibrationFingerprint(spark, baseTable),
      () => ivfRouting(spark, baseTable), s"IVF index '$baseTable'",
      guard, idCol, vecCol, maxShiftFrac)
  }

  private def checkShiftCore(queries: DataFrame,
                             fp: Option[(Int, Seq[Double])],
                             cents: () => Seq[Seq[Double]], label: String,
                             guard: String, idCol: String, vecCol: String,
                             maxShiftFrac: Double): Option[Double] =
    fp.flatMap { case (n, d) =>
      val vs = sampleVecs(queries, n, idCol, vecCol)
      if (vs.isEmpty) None
      else {
        val live = nearestCentroidCos(vs, cents())
        val p10 = d(1)
        val frac = live.count(_ < p10).toDouble / live.size
        if (frac > maxShiftFrac) {
          val msg = f"workload shift on $label: " +
            f"${frac * 100}%.0f%% of the live query sample " +
            f"(n=${live.size}) sits farther from every routing centroid " +
            f"than 90%% of the calibration workload (calibrated p10 " +
            f"cos=$p10%.4f, live median=${deciles(live)(5)}%.4f vs " +
            f"calibrated median=${d(5)}%.4f) — the persisted " +
            "calibration was measured on a DIFFERENT workload " +
            "and its recall target may silently not hold here. " +
            "Recalibrate with calibrationQueries drawn from THIS " +
            "workload, or pass explicit probe depths."
          if (guard == "refuse") throw new IllegalStateException(msg)
          System.err.println(s"[graft] WARN $msg")
        }
        Some(frac)
      }
    }

  /**
   * [[calibrateNprobe]] for the PQ path: the same smallest-power-of-two
   * ascent, but each step ranks the sample through the ACTUAL ADC
   * scoring over the PQ-encoded corpus ([[ivfPqAdcRank]]) — recall here
   * prices cell misses AND quantization distortion together, which is
   * what an [[ivfPqTopKIndexed]] caller experiences. Because codes are
   * lossy, even probing every cell may sit below a high target; that
   * failure is loud and names the cause (the codes, not the probes).
   * `residual` defaults TRUE — the build-companion convention (see
   * [[calibrateRefined]]): match the [[writePqIndex]] build you are
   * calibrating against.
   */
  def calibratePqNprobe(corpus: DataFrame, cents: Seq[Seq[Double]],
                        books: Seq[(Seq[Seq[Double]], Seq[Double])],
                        targetRecall: Double, k: Int = 10,
                        sample: Int = 64, maxNprobe: Int = 64,
                        dim: Int = 64, idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        queries: Option[DataFrame] = None,
                        residual: Boolean = true,
                        marginZ: Double = 1.645): (Int, Seq[(Int, Double)]) = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in (0, 1], got $targetRecall")
    require(sample >= 1, s"sample must be >= 1, got $sample")
    val m = books.size
    val nlist = cents.size
    val q = queries.getOrElse(corpus)
      .select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol)), col(idCol)).limit(sample)
      .localCheckpoint(true)
    val truth = bruteForceTopK(corpus, q, k, idCol, vecCol)
      .select("query_id", "neighbor_id").localCheckpoint(true)
    val denom = truth.count().toDouble
    if (denom == 0) return (1, Seq((1, 1.0)))
    val assigned = withIvfCell(corpus, cents, vecCol)
    val coded0 =
      if (residual)
        withResidualCorr(
          withPqCodes(assigned.withColumn("__rawcents", typedLit(cents))
              .withColumn("__res", expr(residualExpr(vecCol))),
            books, dim / m, "__res"),
          books, dim / m)
      else withPqCodes(assigned, books, dim / m, vecCol)
    val coded = coded0
      .select(col(idCol).as("neighbor_id") +: col("__cell").as("cell") +:
        (0 until m).map(j => col(s"__code$j")) ++:
        (if (residual) Seq(col("__corr")) else Nil): _*)
      // EAGER by repo law: a lazy localCheckpoint whose first
      // materialization lands on a broadcast-exchange build thread
      // deadlocks the driver (markCheckpointed on the exchange thread
      // vs getCacheLocs in the DAG scheduler — jstack-confirmed, round
      // 19). The creating thread must materialize its own checkpoint.
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cap = math.min(maxNprobe, nlist)
    val steps = (Iterator.iterate(1)(_ * 2).takeWhile(_ < cap).toSeq :+ cap)
      .distinct
    val curve = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    var lastMargin = 0.0
    for (np <- steps) {
      val got = ivfPqAdcRank(coded, q, cents, books, k, np, dim / m,
          idCol, vecCol, residual = residual)
        .select("query_id", "neighbor_id")
      val (recall, margin) = recallStats(got, truth, denom, marginZ)
      curve += ((np, recall))
      lastMargin = margin
      if (recall - margin >= targetRecall) return (np, curve.toSeq)
    }
    val capped = cap == nlist
    throw new IllegalArgumentException(
      s"ADC recall target $targetRecall unreachable within maxNprobe=" +
        s"$maxNprobe of nlist=$nlist cells; measured curve: " +
        curve.map { case (n, r) => f"nprobe=$n%d->$r%.3f" }.mkString(", ") +
        (if (curve.last._2 >= targetRecall)
          f" — the POINT estimate meets the target but the sample's" +
            f" dispersion margin (${lastMargin}%.3f at z=$marginZ%.2f)" +
            " does not: grow `sample` to tighten the bound"
        else if (capped && !residual)
          " — every cell was probed, so the shortfall is PQ quantization" +
            " distortion; on a CLUSTERED corpus raw-vector codes collapse" +
            " outright (cluster siblings share codes — round-18 1M drill:" +
            " recall 0.100 raw vs 0.807 residual): rebuild with" +
            " residual = true (IVFADC), or raise m/kcent, or lower the" +
            " target"
        else if (capped)
          " — every cell was probed, so the shortfall is PQ quantization" +
            " distortion: raise m/kcent or lower the target"
        else " — raise maxNprobe or lower the target"))
  }

  /**
   * Joint (nprobe, shortlist) calibration for the TWO-STAGE refined
   * path ([[ivfPqTopKRefined]]) — round 19, closing the round-18 10M
   * drill's gap: the refined path's recall is a function of BOTH knobs,
   * and the right shortlist scales with cell density (1000 rows/cell at
   * 1M needed shortlist 40 for 0.9988; 3163 rows/cell at 10M read
   * 0.9047 with the same 40), so a fixed constant silently decays as
   * the corpus grows — exactly the failure `cal_nprobe` fixed for the
   * single-stage paths in round 18.
   *
   * Ascent order prices the two stages correctly for scale: stage 1
   * (ADC scan) cost grows with nprobe (probed fraction of the corpus),
   * stage 2 (exact re-rank) touches only `queries × shortlist` rows —
   * near-free. So for each nprobe (1, 2, 4, …) EVERY shortlist step
   * (k, 2k, … maxShortlist) is tried before another probe is added:
   * the chosen pair is the cheapest at query time, not the first met.
   * Per nprobe step the ADC ranking runs ONCE at `maxShortlist` and
   * all shortlist cuts re-rank the same scored candidate frame
   * (sample × maxShortlist rows, checkpointed) — shortlist steps cost
   * one tiny window each, not a corpus rescan.
   *
   * Accept rule is [[calibrateNprobe]]'s margin rule: pooled recall −
   * `marginZ`·sd/√sample ≥ target. Returns ((nprobe, shortlist), the
   * measured (nprobe, shortlist, recall) curve). Deterministic, same
   * sample contract as the other calibrators; the workload-sample
   * guidance in [[calibrateNprobe]] applies verbatim.
   *
   * `residual` defaults TRUE — the build-companion convention (round
   * 20): this calibrator scores the codes [[writePqIndex]] builds, and
   * writePqIndex builds residual codes by default; a raw-mode default
   * here would silently calibrate codes the index does not hold. Pass
   * `residual = false` only alongside a `writePqIndex(residual =
   * false)` build. ([[ivfPqTopK]], the ad-hoc in-memory twin with
   * oracle-exact raw semantics, intentionally keeps the raw default.)
   */
  def calibrateRefined(corpus: DataFrame, cents: Seq[Seq[Double]],
                       books: Seq[(Seq[Seq[Double]], Seq[Double])],
                       targetRecall: Double, k: Int = 10,
                       sample: Int = 64, maxNprobe: Int = 64,
                       maxShortlist: Int = 256, dim: Int = 64,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       queries: Option[DataFrame] = None,
                       residual: Boolean = true,
                       marginZ: Double = 1.645)
      : ((Int, Int), Seq[(Int, Int, Double)]) = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in (0, 1], got $targetRecall")
    require(sample >= 1, s"sample must be >= 1, got $sample")
    require(maxShortlist >= k,
      s"maxShortlist ($maxShortlist) must be >= k ($k)")
    val m = books.size
    val nlist = cents.size
    val q = queries.getOrElse(corpus)
      .select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol)), col(idCol)).limit(sample)
      .localCheckpoint(true)
    val truth = bruteForceTopK(corpus, q, k, idCol, vecCol)
      .select("query_id", "neighbor_id").localCheckpoint(true)
    val denom = truth.count().toDouble
    if (denom == 0) return ((1, k), Seq((1, k, 1.0)))
    val assigned = withIvfCell(corpus, cents, vecCol)
    val coded0 =
      if (residual)
        withResidualCorr(
          withPqCodes(assigned.withColumn("__rawcents", typedLit(cents))
              .withColumn("__res", expr(residualExpr(vecCol))),
            books, dim / m, "__res"),
          books, dim / m)
      else withPqCodes(assigned, books, dim / m, vecCol)
    val coded = coded0
      .select(col(idCol).as("neighbor_id") +: col("__cell").as("cell") +:
        (0 until m).map(j => col(s"__code$j")) ++:
        (if (residual) Seq(col("__corr")) else Nil): _*)
      // EAGER by repo law: a lazy localCheckpoint whose first
      // materialization lands on a broadcast-exchange build thread
      // deadlocks the driver (markCheckpointed on the exchange thread
      // vs getCacheLocs in the DAG scheduler — jstack-confirmed, round
      // 19). The creating thread must materialize its own checkpoint.
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // raw vectors for the exact stage-2 re-rank (build-time corpus —
    // the same vectors the companion IVF index will serve at query time)
    val raws = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("vc"),
        VectorFns.norm(vecCol).as("nc"))
    val qv = q.select(col(idCol).as("query_id"), col(vecCol).as("vq"),
      VectorFns.norm(vecCol).as("nq"))
    val npCap = math.min(maxNprobe, nlist)
    val npSteps = (Iterator.iterate(1)(_ * 2).takeWhile(_ < npCap)
      .toSeq :+ npCap).distinct
    val sSteps = (Iterator.iterate(k)(_ * 2).takeWhile(_ < maxShortlist)
      .toSeq :+ maxShortlist).distinct
    val curve =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)]
    var lastMargin = 0.0
    // truth sizes per query — one bounded (≤ sample rows) collect shared
    // by every step's margin computation; skipped entirely at marginZ <= 0
    // (the point-estimate rule needs only pooled hit counts). Sorted by
    // key so the per-query float sums below are order-deterministic.
    lazy val truthPerQ: Seq[(Any, Long)] = truth.groupBy("query_id")
      .agg(count(lit(1)).as("__t")).collect()
      .map(r => (r.get(0), r.getLong(1))).sortBy(_._1.toString).toSeq
    for (np <- npSteps) {
      // ONE ADC pass at the deepest shortlist; `rank` is the ADC rank,
      // so every smaller shortlist is a prefix filter of this frame
      val scored = ivfPqAdcRank(coded, q, cents, books, maxShortlist, np,
          dim / m, idCol, vecCol, residual = residual)
        .join(raws, Seq("neighbor_id"))
        .join(broadcast(qv), Seq("query_id"))
        .withColumn("cos",
          VectorFns.dot("vq", "vc") / (col("nq") * col("nc")))
        .select("query_id", "neighbor_id", "rank", "cos")
        .localCheckpoint(true) // sample x maxShortlist rows — bounded
      // BATCHED shortlist grid (round 22, guide §2.4/§5 — driver
      // round-trips): the former inner loop ran one count JOB per
      // shortlist step (13 driver-sequential jobs at the bench
      // parameters). Every step is a prefix filter of the SAME
      // checkpointed frame, so the whole grid evaluates in ONE job:
      // explode the steps, re-rank within (query, step), join truth
      // once, count hits per (step, query). The driver then walks the
      // steps in ascent order, reproducing the sequential accept/curve
      // semantics exactly — recall = pooled hits / denom and the
      // recallStats margin formula are computed from the same counts.
      val w2 = Window.partitionBy("query_id", "__s")
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      val hitRows = scored
        .withColumn("__s", explode(typedLit(sSteps)))
        .filter(col("rank") <= col("__s"))
        .withColumn("__rr", row_number().over(w2))
        .filter(col("__rr") <= k)
        .join(truth, Seq("query_id", "neighbor_id"))
        .groupBy("__s", "query_id").agg(count(lit(1)).as("__h"))
        .collect()
      val hitsByStep: Map[Int, Map[Any, Long]] = hitRows
        .groupBy(_.getInt(0))
        .map { case (s, rows) =>
          (s, rows.map(r => (r.get(1), r.getLong(2))).toMap)
        }
      for (s <- sSteps) {
        val hs = hitsByStep.getOrElse(s, Map.empty[Any, Long])
        val recall = hs.values.sum / denom
        val margin =
          if (marginZ <= 0.0) 0.0
          else {
            val rs = truthPerQ.map { case (qid, t) =>
              hs.getOrElse(qid, 0L).toDouble / t }
            val nQ = rs.length
            val mean = rs.sum / nQ
            val sd =
              if (nQ < 2) 0.0
              else math.sqrt(
                rs.map(r => (r - mean) * (r - mean)).sum / (nQ - 1))
            marginZ * sd / math.sqrt(nQ.toDouble)
          }
        curve += ((np, s, recall))
        lastMargin = margin
        if (recall - margin >= targetRecall) return ((np, s), curve.toSeq)
      }
    }
    throw new IllegalArgumentException(
      s"refined recall target $targetRecall unreachable within maxNprobe=" +
        s"$maxNprobe / maxShortlist=$maxShortlist (nlist=$nlist); " +
        "measured curve: " + curve.map { case (n, s, r) =>
          f"(np=$n%d,short=$s%d)->$r%.3f" }.mkString(", ") +
        (if (curve.last._3 >= targetRecall)
          f" — the POINT estimate meets the target but the sample's" +
            f" dispersion margin (${lastMargin}%.3f at z=$marginZ%.2f)" +
            " does not: grow `sample` to tighten the bound"
        else
          " — raise maxShortlist/maxNprobe, or the codes cannot surface" +
            " the true neighbors into any shortlist at this depth" +
            (if (!residual) " (clustered corpus? rebuild with residual" +
              " = true — IVFADC)" else ": raise m/kcent")))
  }

  /**
   * QUIESCED reconciliation audit of a persisted [[writeIvfIndex]]
   * index — the IVF sibling of [[graft.streaming.Streams
   * .verifySpanIndex]]: recompute the cell assignment of a bounded,
   * deterministic sample of `_cells` rows against the CURRENT routing
   * table and emit every mismatch (vec_id, stored_cell,
   * recomputed_cell). Expected empty; a non-empty residual means rows
   * assigned under a different centroid generation leaked past the
   * [[ivfGeneration]] guards (or the table was edited out-of-band) —
   * probe joins would silently miss those vectors, so this is the
   * operational check to cron between rebuilds. Cost: `sample` rows
   * through the same fused assignment kernel as a build.
   */
  def verifyIvfIndex(spark: org.apache.spark.sql.SparkSession,
                     baseTable: String, sample: Int = 10000,
                     idCol: String = "vec_id"): DataFrame = {
    val cents = ivfRouting(spark, baseTable)
    val cells = spark.table(baseTable + "_cells")
      .orderBy(xxhash64(col(idCol)), col(idCol)).limit(sample)
    withIvfCell(cells.select(col(idCol), col("vec"), col("cell")),
        cents, "vec")
      .filter(col("__cell").isNull || col("__cell") =!= col("cell"))
      .select(col(idCol), col("cell").as("stored_cell"),
        col("__cell").as("recomputed_cell"))
  }

  /**
   * Structural audit of a persisted [[writePqIndex]] index. PQ codes
   * are LOSSY — the original vectors are gone, so assignments cannot
   * be recomputed; what CAN be checked is every invariant a query
   * relies on: cell ids within the routing table, every code within
   * its codebook's range and non-null, and the meta frame complete and
   * single-generation (a half-swapped or hand-edited meta fails
   * loudly here instead of mis-scoring silently). Emits violating
   * code rows (expected empty).
   */
  def verifyPqIndex(spark: org.apache.spark.sql.SparkSession,
                    baseTable: String,
                    idCol: String = "vec_id"): DataFrame = {
    val (cents, books) = pqRouting(spark, baseTable)
    val nlist = cents.size
    val m = books.size
    val kc = books.head._1.size
    require(books.forall(_._1.size == kc),
      s"PQ meta for '$baseTable' is ragged: codebook sizes " +
        books.map(_._1.size).mkString(",") + " — rebuild via writePqIndex")
    val gens = spark.table(baseTable + "_pqmeta")
      .select(col("gen")).distinct().collect().map(_.getLong(0))
    require(gens.length == 1,
      s"PQ meta for '$baseTable' carries ${gens.length} generations " +
        s"(${gens.sorted.mkString(",")}) — run Tables.recoverSwap and " +
        "rebuild before querying")
    val codes = spark.table(baseTable + "_pqcodes")
    // a residual (IVFADC) index scores as `__qcell + LUT - __corr`: a
    // null __corr nulls the whole ADC score and the vector silently
    // sinks out of every result — exactly the mis-scoring class this
    // audit exists to surface (ADVICE r18), so check it like the codes
    val res = pqIsResidual(spark, baseTable)
    if (res) require(codes.columns.contains("__corr"),
      s"PQ index '$baseTable' is stamped residual (kind='res') but " +
        "_pqcodes carries no __corr column — rebuild via " +
        "writePqIndex(residual = true)")
    val bad = (col("cell").isNull || col("cell") < 1 ||
      col("cell") > nlist) +: (0 until m).map(j =>
      col(s"__code$j").isNull || col(s"__code$j") < 1 ||
        col(s"__code$j") > kc) ++:
      (if (res) Seq(col("__corr").isNull) else Nil)
    codes.filter(bad.reduce(_ || _))
      .select(col(idCol), col("cell"))
  }

  /**
   * Two-stage retrieval over the persisted index pair: ADC shortlist
   * from the PQ index, EXACT cosine re-rank against the companion IVF
   * index's raw vectors (the FAISS IVFPQ+R composition; also the
   * documented recovery for the residual quantizer's code-flip recall
   * ceiling — round-18 drill: 0.763 ADC-only -> exact re-rank of a
   * 4x shortlist). The two indexes must describe the SAME corpus and
   * centroid seed set — checked loudly by comparing routing tables,
   * since a skewed pair would silently re-rank the wrong candidates.
   *
   * Scale posture: stage 1 is [[ivfPqTopKIndexed]] (codes scanned at
   * their bucketing, raw vectors untouched); stage 2 joins the
   * queries x shortlist pairs (tiny, broadcast) against `_cells` —
   * ONE scan of the raw vectors, no corpus shuffle, and only
   * shortlist-many exact dots per query.
   *
   * `autoNprobe = true` reads the PERSISTED `cal_ref` (nprobe,
   * shortlist) pair a `writePqIndex(refinedTargetRecall = Some(…))`
   * build measured — BOTH knobs, because the right shortlist scales
   * with cell density (round-18 10M drill: the fixed default decayed
   * 0.9988 → 0.9047 as rows/cell grew 3×; round 19 made it
   * self-sizing). An index without a refined calibration refuses
   * loudly — falling back to the fixed defaults is exactly the silent
   * under-delivery the calibration protocol exists to prevent.
   */
  def ivfPqTopKRefined(queries: DataFrame, pqBase: String,
                       ivfBase: String, k: Int = 10,
                       shortlist: Int = 40, nprobe: Int = 4,
                       dim: Int = 64, idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       autoNprobe: Boolean = false,
                       shiftGuard: String = "warn"): DataFrame = {
    val spark = queries.sparkSession
    val (np, short0) =
      if (!autoNprobe) (nprobe, shortlist)
      else calibratedRefined(spark, pqBase).getOrElse(
        throw new IllegalStateException(
          s"autoNprobe requested but PQ index '$pqBase' carries no " +
            "refined (nprobe, shortlist) calibration — rebuild with " +
            "writePqIndex(refinedTargetRecall = Some(...)) or pass " +
            "explicit nprobe/shortlist"))
    // trusting a persisted calibration only makes sense on the workload
    // it was measured against — see [[checkWorkloadShift]]
    if (autoNprobe)
      checkWorkloadShift(queries, pqBase, shiftGuard, idCol, vecCol)
    require(short0 >= k,
      s"shortlist ($short0) must be >= k ($k)")
    val ivfCents = ivfRouting(spark, ivfBase)
    val pqCents = pqRouting(spark, pqBase)._1
    require(ivfCents == pqCents,
      s"index pair mismatch: '$ivfBase' and '$pqBase' carry different " +
        "routing tables — they must be built from the same corpus with " +
        "the same nlist (rebuild one of them)")
    val short = ivfPqTopKIndexed(queries, pqBase, k = short0,
      nprobe = np, dim = dim, idCol = idCol, vecCol = vecCol)
      .select(col("query_id"), col("neighbor_id"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("vq"), VectorFns.norm(vecCol).as("nq"))
    val cells = spark.table(ivfBase + "_cells")
      .select(col(idCol).as("neighbor_id"), col("vec").as("vc"),
        col("nrm").as("nc"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    cells.join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos", VectorFns.dot("vq", "vc") / (col("nq") * col("nc")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /** Whether the persisted PQ index encodes RESIDUALS (IVFADC) — the
   * `kind = 'res'` meta row written by `writePqIndex(residual = true)`.
   * Query paths dispatch on this automatically; raw and residual
   * indexes are never score-compatible. */
  def pqIsResidual(spark: org.apache.spark.sql.SparkSession,
                   baseTable: String): Boolean =
    spark.table(baseTable + "_pqmeta")
      .filter(col("kind") === "res").limit(1).count() > 0

  /** The persisted PQ index's calibrated nprobe (`kind = 'cal'` meta
   * row), when [[writePqIndex]] ran with `targetRecall` — None on
   * uncalibrated or pre-round-18 indexes. */
  def calibratedPqNprobe(spark: org.apache.spark.sql.SparkSession,
                         baseTable: String): Option[Int] = {
    spark.table(baseTable + "_pqmeta")
      .filter(col("kind") === "cal")
      .agg(max(col("i"))).first() match {
      case r if r.isNullAt(0) => None
      case r => Some(r.getInt(0))
    }
  }

  /** The persisted PQ index's calibrated (nprobe, shortlist) pair for
   * the TWO-STAGE refined path (`kind = 'cal_ref'` meta row), when
   * [[writePqIndex]] ran with `refinedTargetRecall` — None on indexes
   * without a refined calibration. */
  def calibratedRefined(spark: org.apache.spark.sql.SparkSession,
                        baseTable: String): Option[(Int, Int)] =
    spark.table(baseTable + "_pqmeta")
      .filter(col("kind") === "cal_ref")
      .select("i", "j").limit(1).collect().headOption
      .map(r => (r.getInt(0), r.getInt(1)))

  /** The calibration CONTRACT persisted with a [[writePqIndex]] build
   * (round 20): target recall, the accept rule's `marginZ`, and the
   * sample spec (k, sample size, maxNprobe, and maxShortlist on the
   * refined kind). `maxShortlist` is `None` on the single-stage spec.
   * [[retrainPqIndex]] reads this back to recalibrate by default —
   * the calibrated (nprobe, shortlist) describes ONE generation's
   * density, the TARGET outlives generations. */
  final case class CalSpec(target: Double, marginZ: Double,
                           recallK: Int, sample: Int, maxNprobe: Int,
                           maxShortlist: Option[Int])

  /** Read back the persisted calibration spec — `refined = false` for
   * the single-stage `targetRecall` contract, `refined = true` for the
   * two-stage `refinedTargetRecall` contract. None on indexes built
   * without that calibration (or pre-round-20 calibrated indexes,
   * which persisted only the RESULT). */
  def pqCalibrationSpec(spark: org.apache.spark.sql.SparkSession,
                        baseTable: String,
                        refined: Boolean): Option[CalSpec] =
    spark.table(baseTable + "_pqmeta")
      .filter(col("kind") === (if (refined) "cal_ref_spec" else "cal_spec"))
      .select("i", "j", "vec").limit(1).collect().headOption
      .map { r =>
        val v = r.getSeq[Double](2)
        CalSpec(v(0), v(1), r.getInt(0), r.getInt(1), v(2).toInt,
          if (refined) Some(v(3).toInt) else None)
      }

  /** The persisted index's calibrated nprobe, when [[writeIvfIndex]]
   * ran with `targetRecall` — None on uncalibrated or pre-round-18
   * indexes. */
  def calibratedNprobe(spark: org.apache.spark.sql.SparkSession,
                       baseTable: String): Option[Int] = {
    val t = spark.table(baseTable + "_centroids")
    if (!t.columns.contains("cal_nprobe")) None
    else t.agg(max(col("cal_nprobe"))).first() match {
      case r if r.isNullAt(0) => None
      case r => Some(r.getInt(0))
    }
  }

  /** The IVF index's persisted calibration CONTRACT — the
   * [[pqCalibrationSpec]] twin over `_centroids`' `cal_spec` column
   * ([target, marginZ, recallK, sample, maxNprobe]; `maxShortlist` is
   * always None — the single-stage path has no shortlist). None on
   * uncalibrated or pre-round-20 indexes. */
  def ivfCalibrationSpec(spark: org.apache.spark.sql.SparkSession,
                         baseTable: String): Option[CalSpec] = {
    val t = spark.table(baseTable + "_centroids")
    if (!t.columns.contains("cal_spec")) None
    else t.select("cal_spec").filter(col("cal_spec").isNotNull)
      .limit(1).collect().headOption
      .map { r =>
        val v = r.getSeq[Double](0)
        CalSpec(v(0), v(1), v(2).toInt, v(3).toInt, v(4).toInt, None)
      }
  }

  /**
   * Persist an IVF index as the CO-LOCATED two-table layout — the ANN
   * twin of [[graft.operators.Dedup.writeBandedIndex]]:
   *   - `<base>_cells`: (idCol, vec, nrm, cell) BUCKETED by `cell` —
   *     the probe-join side, with the norm precomputed so query time
   *     never touches `sqrt` over the corpus;
   *   - `<base>_centroids`: (cell, centroid) — nlist rows, the tiny
   *     routing table every query batch collects (the same
   *     driver-bounded contract as [[trainIvfCentroids]]).
   * Centroids are the DETERMINISTIC seed set (lowest-`nlist` ids,
   * iters = 0 — the [[ivfTopK]] contract), so a DuckDB oracle
   * recomputes the whole index closed-form. Replacements go through the
   * staged two-table swap ([[graft.tables.Tables.stageBucketedSwap]] +
   * one [[graft.tables.Tables.commitSwaps]]) — same crash protocol as
   * the dedup indexes.
   *
   * What this buys at 100 TB over calling [[ivfTopK]] per batch: cell
   * assignment (O(corpus × nlist) dot products) and norms are paid ONCE
   * per corpus instead of once per query batch, and every batch's
   * probe join reads the corpus AT ITS BUCKETING — zero Exchange on the
   * index side (plan-asserted in SimilaritySpec).
   */
  def writeIvfIndex(corpus: DataFrame, baseTable: String, nlist: Int = 16,
                    dim: Int = 64, numBuckets: Int = 8,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    iters: Int = 0,
                    targetRecall: Option[Double] = None,
                    recallK: Int = 10, recallSample: Int = 64,
                    maxNprobe: Int = 64,
                    calibrationQueries: Option[DataFrame] = None,
                    marginZ: Double = 1.645): Unit = {
    val spark = corpus.sparkSession
    // iters > 0 rides the INTEGER-exact Lloyd ([[kmeansCentroids]]),
    // not [[trainIvfCentroids]]'s float mean: a persisted index must
    // rebuild bit-identically on identical data (the generation/
    // calibration protocol compares across rebuilds), and a
    // distributed float avg's summation order can flip borderline
    // assignments between runs — fine for the ad-hoc in-memory paths,
    // wrong for an index that outlives the session (round 18)
    val cents =
      if (iters == 0) trainIvfCentroids(corpus, nlist, dim, 0, idCol,
        vecCol)
      else kmeansCentroids(corpus, nlist, iters, idCol, vecCol)
    // recall-targeted auto-nprobe (round 18): calibrate BEFORE the swap
    // so the chosen value rides the same commit as the routing table it
    // was measured against — a calibration can never describe a
    // different centroid generation
    val calNprobe = targetRecall.map(t =>
      calibrateNprobe(corpus, cents, t, recallK, recallSample, maxNprobe,
        idCol, vecCol, calibrationQueries, marginZ)._1)
    // workload fingerprint (round 20, the PQ family's cal_fp twin):
    // persisted beside the calibrated nprobe so
    // [[checkIvfWorkloadShift]] can detect workload SHIFT on the
    // autoNprobe query path. Encoded [sample size, 11 deciles].
    val calFp = targetRecall.flatMap { _ =>
      val vs = sampleVecs(calibrationQueries.getOrElse(corpus),
        recallSample, idCol, vecCol)
      if (vs.isEmpty) None
      else Some(vs.size.toDouble +: deciles(nearestCentroidCos(vs, cents)))
    }
    val cells = ivfDeltaAssign(corpus, cents, idCol, vecCol)
    import spark.implicits._
    // generation marker: every rebuild bumps `gen`, so ingest sinks and
    // delta folds that captured the PREVIOUS routing table can detect
    // staleness and fail loudly instead of silently writing/folding
    // cell assignments that belong to a dead centroid generation
    val gen =
      if (spark.catalog.tableExists(baseTable + "_centroids"))
        ivfGeneration(spark, baseTable) + 1
      else 0L
    val centDf = cents.zipWithIndex
      .map { case (c, i) => (i + 1, c) }.toDF("cell", "centroid")
      .withColumn("gen", lit(gen))
      .withColumn("cal_nprobe",
        calNprobe.map(lit(_)).getOrElse(lit(null)).cast("int"))
      // the calibration CONTRACT (round 20, the PQ family's
      // cal_spec twin): [target, marginZ, recallK, sample, maxNprobe]
      // — constant across the nlist rows, read back by
      // [[ivfCalibrationSpec]] so [[retrainIvfIndex]] recalibrates by
      // default instead of dropping the target with the generation
      .withColumn("cal_spec",
        targetRecall.map(t => typedLit(Seq(t, marginZ, recallK.toDouble,
            recallSample.toDouble, maxNprobe.toDouble)))
          .getOrElse(lit(null).cast("array<double>")))
      .withColumn("cal_fp",
        calFp.map(f => typedLit(f))
          .getOrElse(lit(null).cast("array<double>")))
    graft.tables.Tables.stageBucketedSwap(cells, baseTable + "_cells",
      "cell", numBuckets)
    graft.tables.Tables.stageBucketedSwap(centDf, baseTable + "_centroids",
      "cell", 1)
    graft.tables.Tables.commitSwaps(spark,
      Seq(baseTable + "_cells", baseTable + "_centroids"))
  }

  /** The persisted index's routing-table generation — bumped by every
   * [[writeIvfIndex]] rebuild (including [[retrainIvfIndex]]). A
   * [[graft.streaming.Streams.ivfIngestSink]] captures this at start
   * and re-checks per batch; [[graft.streaming.Streams
   * .compactIvfDelta]] refuses a delta tree assigned under a different
   * generation. Pre-generation indexes (no `gen` column) read 0. */
  def ivfGeneration(spark: org.apache.spark.sql.SparkSession,
                    baseTable: String): Long = {
    val t = spark.table(baseTable + "_centroids")
    if (!t.columns.contains("gen")) 0L
    else t.agg(max(col("gen"))).first() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
  }

  /**
   * Periodic retrain/rebuild of a persisted [[writeIvfIndex]] index
   * that has grown through a [[graft.streaming.Streams.ivfIngestSink]]
   * delta tree — the generation protocol the streaming docs promise:
   *
   *   1. fold the outstanding delta into the bulk
   *      ([[graft.streaming.Streams.compactIvfDelta]] — delta cell ids
   *      belong to the CURRENT routing generation, so the fold must
   *      land before centroids move);
   *   2. retrain centroids from the full folded bulk (`iters` rounds
   *      of the integer-exact k-means; 0 = the deterministic seed-set
   *      contract every oracle twin recomputes) and rebuild
   *      `_cells`/`_centroids` through the same staged two-table swap
   *      as a cold build — crash windows inherit
   *      [[graft.tables.Tables.recoverSwap]]'s drill;
   *   3. the rebuild bumps the `gen` marker, so any STILL-RUNNING sink
   *      started against the old routing table fails loudly on its
   *      next batch instead of appending assignments into the wrong
   *      generation.
   *
   * Run QUIESCED (stream stopped, no tiered queries in flight) — the
   * same contract as the fold itself. After this, restart the sink so
   * it captures the new routing table.
   */
  def retrainIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      baseTable: String, deltaPath: String,
                      nlist: Int = 16, dim: Int = 64, numBuckets: Int = 8,
                      iters: Int = 0, idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      targetRecall: Option[Double] = None,
                      recallK: Int = 10, recallSample: Int = 64,
                      maxNprobe: Int = 64,
                      calibrationQueries: Option[DataFrame] = None,
                      marginZ: Double = 1.645): Unit = {
    graft.streaming.Streams.compactIvfDelta(spark, deltaPath, baseTable,
      numBuckets, idCol)
    val corpus = spark.table(baseTable + "_cells")
      .select(col(idCol), col("vec").as(vecCol))
    // a calibrated NPROBE describes ONE routing generation and never
    // carries forward — but the calibration CONTRACT (target + z +
    // sample spec) outlives generations: when the caller does not
    // restate `targetRecall`, the stored `cal_spec` drives a fresh
    // measurement against the retrained centroids (round 20 — the PQ
    // family's retrain-recalibration, see [[retrainPqIndex]]).
    // Explicit targets win wholesale and become the new contract.
    val stored = if (targetRecall.isDefined) None
      else ivfCalibrationSpec(spark, baseTable)
    val (effTarget, effK, effSample, effMaxNp, effZ) = stored match {
      case Some(s) =>
        (Some(s.target), s.recallK, s.sample, s.maxNprobe, s.marginZ)
      case None =>
        (targetRecall, recallK, recallSample, maxNprobe, marginZ)
    }
    writeIvfIndex(corpus, baseTable, nlist, dim, numBuckets, idCol, vecCol,
      iters = iters, targetRecall = effTarget, recallK = effK,
      recallSample = effSample, maxNprobe = effMaxNp,
      calibrationQueries = calibrationQueries, marginZ = effZ)
  }

  /**
   * [[ivfTopK]] against a PERSISTED [[writeIvfIndex]] index — identical
   * output contract (same centroids, same probes, same tie-breaks),
   * different physical plan: the corpus is never re-assigned to cells,
   * its norms are never recomputed, and the probe join reads
   * `<base>_cells` at its bucketing (the query side broadcasts — only
   * ever O(queries × nprobe) rows move).
   */
  def ivfTopKAgainstIndex(queries: DataFrame, baseTable: String,
                          k: Int = 10, nprobe: Int = 4, dim: Int = 64,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          autoNprobe: Boolean = false,
                          shiftGuard: String = "warn"): DataFrame = {
    val spark = queries.sparkSession
    val cents = ivfRouting(spark, baseTable)
    // auto mode reads the calibrated value persisted with THIS routing
    // generation; asking for it on an uncalibrated index is a caller
    // bug (the silent fallback would quietly under- or over-probe)
    val np =
      if (!autoNprobe) nprobe
      else calibratedNprobe(spark, baseTable).getOrElse(
        throw new IllegalStateException(
          s"autoNprobe requested but index '$baseTable' carries no " +
            "calibration — rebuild with writeIvfIndex(targetRecall = " +
            "Some(...)) or pass an explicit nprobe"))
    // a persisted calibration is only trustworthy on the workload it
    // was measured against — see [[checkIvfWorkloadShift]]
    if (autoNprobe)
      checkIvfWorkloadShift(queries, baseTable, shiftGuard, idCol, vecCol)
    val cells = spark.table(baseTable + "_cells").select(cellCols(idCol): _*)
    ivfProbeRank(cells, queries, cents, k, np, idCol, vecCol,
      dedupCandidates = false)
  }

  /**
   * The persisted index's frozen routing table as a driver value —
   * the nlist-bounded collect every probe/assign path starts from (the
   * same driver contract as [[trainIvfCentroids]]). Fails loudly when
   * the two-table set is half-present: the index is replaced via the
   * staged swap, so after [[graft.tables.Tables.recoverSwap]] both
   * tables exist or neither does, and exactly one (or a
   * generation-skewed pair after a crash between the commits) would
   * silently route queries with the wrong centroids.
   */
  def ivfRouting(spark: org.apache.spark.sql.SparkSession,
                 baseTable: String): Seq[Seq[Double]] = {
    val hasCells = spark.catalog.tableExists(baseTable + "_cells")
    val hasCents = spark.catalog.tableExists(baseTable + "_centroids")
    if (!hasCells || !hasCents)
      throw new IllegalStateException(
        s"IVF index for '$baseTable' is incomplete (cells=$hasCells, " +
          s"centroids=$hasCents): run Tables.recoverSwap on both tables " +
          "and re-run writeIvfIndex before querying")
    spark.table(baseTable + "_centroids")
      .orderBy("cell").collect()
      .map(_.getSeq[Double](1).toSeq).toSeq
  }

  /** The `_cells` columns in the probe join's shape. */
  private def cellCols(idCol: String): Seq[Column] =
    Seq(col(idCol).as("neighbor_id"), col("vec").as("vc"),
      col("nrm").as("nc"), col("cell"))

  /** Shared probe-and-rank tail of the persisted-index searches: the
   * (small) query set broadcasts with its probe cells exploded, joins the
   * cell-keyed corpus frame, exact-cosine ranks per query. Each corpus
   * vector lives in exactly ONE cell, so (query, neighbor) rows are
   * unique — `dedupCandidates` exists for the TIERED path, where a
   * vector can transiently sit in both the bulk table and the delta
   * tree (the fold's crash window), or in two delta batches (an id
   * updated twice between folds). The tiered caller tags every corpus
   * leg with a `__prec` precedence column (bulk = -1, delta = batch
   * id) and the dedup keeps the HIGHEST precedence row per
   * (query, neighbor) — mirroring [[graft.streaming.Streams
   * .compactIvfDelta]]'s fold precedence, so a query ranks against the
   * vector the next fold would keep, never a plan-dependent arbitrary
   * (possibly stale-bulk) row. */
  private def ivfProbeRank(corpusCells: DataFrame, queries: DataFrame,
                           cents: Seq[Seq[Double]], k: Int, nprobe: Int,
                           idCol: String, vecCol: String,
                           dedupCandidates: Boolean): DataFrame = {
    val q = broadcast(withIvfCell(queries, cents, vecCol)
      .withColumn("__probes", expr(probesExpr(cents.size, nprobe)))
      .select(col(idCol).as("query_id"), col(vecCol).as("vq"),
        VectorFns.norm(vecCol).as("nq"),
        explode(expr("transform(__probes, p -> p.idx)")).as("cell")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val cand = corpusCells.join(q, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", VectorFns.dot("vq", "vc") / (col("nq") * col("nc")))
    val deduped =
      if (dedupCandidates) {
        val wD = Window.partitionBy("query_id", "neighbor_id")
          .orderBy(col("__prec").desc)
        cand.withColumn("__dr", row_number().over(wD))
          .filter(col("__dr") === 1)
      } else cand
    deduped
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /**
   * Assign a batch of NEW vectors to the persisted index's cells — the
   * incremental half of [[writeIvfIndex]]: the frozen routing table
   * (nlist rows, pass [[ivfRouting]]'s collect) classifies the batch in
   * one narrow projection, emitting the `_cells` row shape (idCol, vec,
   * nrm, cell). Centroids stay frozen between [[writeIvfIndex]]
   * rebuilds — at 100 TB cell drift is handled by a periodic
   * retrain/rebuild cadence, never per batch. REBUILD ORDER: fold and
   * prune the delta tree ([[graft.streaming.Streams.compactIvfDelta]])
   * BEFORE any [[writeIvfIndex]] retrain — delta rows carry the cell
   * ids of the routing table that assigned them, and a rebuild under an
   * unfolded delta leaves those assignments pointing into the wrong
   * generation (silently wrong probes, no error).
   */
  def ivfDeltaAssign(batch: DataFrame, cents: Seq[Seq[Double]],
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame =
    withIvfCell(batch, cents, vecCol)
      .select(col(idCol), col(vecCol).as("vec"),
        VectorFns.norm(vecCol).as("nrm"), col("__cell").as("cell"))

  /**
   * [[ivfTopKAgainstIndex]] over the TIERED corpus: the bucketed bulk
   * `_cells` table plus the `batch=<id>` delta tree a
   * [[graft.streaming.Streams.ivfIngestSink]] appends — the ANN twin
   * of the dedup `tieredPairs`, read by [[graft.streaming.Streams
   * .tieredCorpus]]. The bulk side still reads at its bucketing under
   * the broadcast probe join (a union leg keeps its own scan); the delta
   * side is micro-batch-scale until the next
   * [[graft.streaming.Streams.compactIvfDelta]] fold. Candidates dedup
   * on (query, neighbor) by the tiers' precedence before ranking, so a
   * vector present in BOTH tiers (the fold's crash window) cannot
   * double-rank.
   *
   * Concurrency: safe alongside the RUNNING sink (an in-flight batch
   * write is invisible until committed), but quiesce tiered QUERIES
   * during [[graft.streaming
   * .Streams.compactIvfDelta]] and during a replayed batch's rewrite:
   * both delete files a concurrently planned query may have already
   * listed (FileNotFoundException at action time) — the same
   * run-quiesced contract as every compaction here. And fold BEFORE
   * any [[writeIvfIndex]] retrain (see [[ivfDeltaAssign]]'s REBUILD
   * ORDER note).
   */
  def ivfTopKTiered(queries: DataFrame, baseTable: String,
                    deltaPath: String, k: Int = 10, nprobe: Int = 4,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    autoNprobe: Boolean = false): DataFrame = {
    val spark = queries.sparkSession
    val cents = ivfRouting(spark, baseTable)
    // same auto contract as [[ivfTopKAgainstIndex]] — the calibration
    // described the BULK's routing table, which is also the tier's
    val np =
      if (!autoNprobe) nprobe
      else calibratedNprobe(spark, baseTable).getOrElse(
        throw new IllegalStateException(
          s"autoNprobe requested but index '$baseTable' carries no " +
            "calibration — rebuild with writeIvfIndex(targetRecall = " +
            "Some(...)) or pass an explicit nprobe"))
    val (corpus, tiered) = graft.streaming.Streams.tieredCorpus(spark,
      baseTable + "_cells", deltaPath, cellCols(idCol))
    ivfProbeRank(corpus, queries, cents, k, np, idCol, vecCol,
      dedupCandidates = tiered)
  }

  /**
   * IVF+PQ top-k — the FAISS IVFPQ architecture (Jégou et al., "Product
   * Quantization for Nearest Neighbor Search", TPAMI 2011, §V): the two
   * approximations compose multiplicatively. IVF cuts the CANDIDATE
   * volume to ~`nprobe/nlist` of the corpus per query; PQ cuts the COST
   * PER CANDIDATE from a `dim`-wide dot product to `m` lookup-table adds
   * against codes that are ~`dim*4/m` times smaller than the raw
   * vectors. At 100 TB the corpus side scans only (cell, m code
   * columns) — the raw embedding column is read once at encode time and
   * never again at query time.
   *
   * All arithmetic is the deterministic machinery of [[ivfTopK]] and
   * [[pqTopK]] unchanged: seed centroids are the lowest-id vectors, cell
   * assignment is argmax-dot against unit centroids, LUT entries are
   * micro-floored BIGINTs so the ADC total is an associative integer
   * sum, and ranking ties break on neighbor id — closed-form in the
   * DuckDB twin end to end.
   *
   * Scale: codes + cells are narrow codegen'd projections; the
   * candidate join is corpus-codes ⋈ broadcast(query probes × LUTs) on
   * `cell`, so the corpus never shuffles; per-query top-k is one window
   * over the probed cells' rows.
   */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                nlist: Int = 16, nprobe: Int = 4, m: Int = 4,
                kcent: Int = 16, dim: Int = 64,
                idCol: String = "vec_id",
                vecCol: String = "embedding",
                residual: Boolean = false): DataFrame = {
    val dsub = dim / m
    val cents = trainIvfCentroids(corpus, nlist, dim, iters = 0, idCol, vecCol)
    // empty corpus -> empty codebooks/centroids; the LUT/probe transforms
    // would then throw on query rows (see pqTopK) — short-circuit
    if (cents.isEmpty)
      return queries.limit(0)
        .select(col(idCol).as("query_id"), col(idCol).as("neighbor_id"),
          lit(0L).as("rank"))
    val books =
      if (residual) pqResidualCodebook(corpus, cents, m, kcent, dim,
        idCol, vecCol)
      else pqCodebook(corpus, m, kcent, dim, idCol, vecCol)
    if (books.head._1.isEmpty)
      return queries.limit(0)
        .select(col(idCol).as("query_id"), col(idCol).as("neighbor_id"),
          lit(0L).as("rank"))
    val assigned = withIvfCell(corpus, cents, vecCol)
    val coded0 =
      if (residual)
        withResidualCorr(
          withPqCodes(assigned.withColumn("__rawcents", typedLit(cents))
              .withColumn("__res", expr(residualExpr(vecCol))),
            books, dsub, "__res"),
          books, dsub)
      else withPqCodes(assigned, books, dsub, vecCol)
    val coded = coded0
      .select(col(idCol).as("neighbor_id") +: col("__cell").as("cell") +:
        (0 until m).map(j => col(s"__code$j")) ++:
        (if (residual) Seq(col("__corr")) else Nil): _*)
    ivfPqAdcRank(coded, queries, cents, books, k, nprobe, dsub, idCol,
      vecCol, residual = residual)
  }

  /** The shared query-side tail of [[ivfPqTopK]] and
   * [[ivfPqTopKIndexed]]: broadcast each query's probe cells × m
   * micro-floored integer LUTs against a `(neighbor_id, cell,
   * __code0..__code{m-1})` corpus frame, rank by the associative ADC
   * sum with id tie-breaks. One code path = the entry points are
   * hash-identical by construction. `dedupCandidates` is the
   * [[ivfProbeRank]] tiered contract: `coded` then carries a `__prec`
   * column and each (query, neighbor) keeps its highest-precedence
   * row before ranking. */
  private def ivfPqAdcRank(coded: DataFrame, queries: DataFrame,
                           cents: Seq[Seq[Double]],
                           books: Seq[(Seq[Seq[Double]], Seq[Double])],
                           k: Int, nprobe: Int, dsub: Int,
                           idCol: String, vecCol: String,
                           dedupCandidates: Boolean = false,
                           residual: Boolean = false): DataFrame = {
    val m = books.size
    // RAW mode: LUT entry = micro(dot(q_j, e) - ||e||²/2) — the MIPS
    // bias rides the query LUT. RESIDUAL mode (IVFADC): the bias and
    // every reconstruction term live in the build-time `__corr`
    // column, so the LUT is the bare micro(dot(q_j, e)) over the
    // RESIDUAL codebook, and the score adds the per-probed-cell
    // micro(dot(q, u_c)) the probe ranking already computed.
    val qbase = books.zipWithIndex.foldLeft(
      withIvfCell(queries, cents, vecCol)
        .withColumn("__probes", expr(probesExpr(cents.size, nprobe)))) {
      case (d, ((cb, bias), j)) =>
        val lutBody =
          if (residual)
            s"""graft_dot(slice($vecCol, ${j * dsub + 1}, $dsub),
               |          element_at(__qcb$j, i))""".stripMargin
          else
            s"""graft_dot(slice($vecCol, ${j * dsub + 1}, $dsub),
               |          element_at(__qcb$j, i))
               | - element_at(__qbias$j, i)""".stripMargin
        d.withColumn(s"__qcb$j", typedLit(cb))
          .withColumn(s"__qbias$j", typedLit(bias))
          .withColumn(s"__qs$j", expr(
            s"""transform(sequence(1, ${cb.size}),
               |  i -> CAST(floor(($lutBody) * 1000000) AS BIGINT))"""
              .stripMargin))
    }
    val lutSum = (0 until m)
      .map(j => s"element_at(__qs$j, __code$j)").mkString(" + ")
    val adc =
      if (residual) s"__qcell + $lutSum - __corr" else lutSum
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc").desc, col("neighbor_id").asc)
    // Join-shape choice (round 18, measured at 1M/m=8/ksub=256):
    //  - NON-tiered (the common path): ONE fat broadcast — each
    //    (query x probe-cell) row carries the m LUT arrays. The
    //    nprobe-fold broadcast inflation (131 MB at 1024 queries) is
    //    an in-memory reference on local mode and one-hop on a
    //    cluster, while splitting it into probe-pairs + a second
    //    by-query LUT join costs an extra hash probe on EVERY
    //    candidate row (8M at 1024q) — measured 3.4 s -> 5.3 s, a net
    //    loss. Keep the single join.
    //  - TIERED (dedupCandidates): the precedence dedup WINDOW
    //    shuffles candidate rows; those must stay code-width, not
    //    LUT-width (16 KB/row through an exchange is real bytes, not
    //    a reference). Slim probe-pair join first, dedup, then attach
    //    the LUT per query.
    // residual mode explodes probes as (cell, __qcell) structs — the
    // per-probed-cell micro(dot(q, c_raw)) term rides the same explode
    // the cell ids do. RAW centroid dot, not the unit routing dot in
    // p.d: the reconstruction lives at corpus scale (nprobe extra dots
    // per query — noise)
    val qbase2 =
      if (residual) qbase.withColumn("__rawcents", typedLit(cents))
      else qbase
    val probeExplode =
      if (residual)
        expr(s"""transform(__probes, p ->
                |  struct(p.idx AS cell,
                |         CAST(floor(graft_dot($vecCol,
                |                    element_at(__rawcents, p.idx))
                |                    * 1000000) AS BIGINT)
                |           AS __qcell))""".stripMargin)
      else expr("transform(__probes, p -> struct(p.idx AS cell))")
    val probeCols =
      if (residual) Seq(col("__pr.cell").as("cell"),
        col("__pr.__qcell").as("__qcell"))
      else Seq(col("__pr.cell").as("cell"))
    val deduped =
      if (!dedupCandidates) {
        val qlut = qbase2
          .select(col(idCol).as("query_id") +:
            explode(probeExplode).as("__pr") +:
            (0 until m).map(j => col(s"__qs$j")): _*)
          .select(col("query_id") +: probeCols ++:
            (0 until m).map(j => col(s"__qs$j")): _*)
        coded.join(broadcast(qlut), Seq("cell"))
          .filter(col("query_id") =!= col("neighbor_id"))
      } else {
        val probes = qbase2
          .select(col(idCol).as("query_id"),
            explode(probeExplode).as("__pr"))
          .select(col("query_id") +: probeCols: _*)
        val qlut = qbase.select(col(idCol).as("query_id") +:
          (0 until m).map(j => col(s"__qs$j")): _*)
        val wD = Window.partitionBy("query_id", "neighbor_id")
          .orderBy(col("__prec").desc)
        coded.join(broadcast(probes), Seq("cell"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .withColumn("__dr", row_number().over(wD))
          .filter(col("__dr") === 1)
          .join(broadcast(qlut), Seq("query_id"))
      }
    deduped
      .withColumn("adc", expr(adc))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /**
   * Persist an IVF+PQ index — the [[writeIvfIndex]] protocol extended
   * with product-quantization codes, so [[ivfPqTopKIndexed]] never
   * re-trains codebooks or re-encodes the corpus per query batch
   * (which is what [[ivfPqTopK]] pays every run):
   *   - `<base>_pqcodes`: (idCol, cell, __code0..__code{m-1}) BUCKETED
   *     by `cell` — the probe-join side; the raw vectors are read once
   *     here at build time and never again at query time;
   *   - `<base>_pqmeta`: the routing table AND the m codebooks in one
   *     tiny frame — (kind ∈ {cent, book, cal}, i, j, vec, gen): `cent`
   *     rows carry (cell = i, centroid = vec); `book` rows carry
   *     (subspace = i, centroid index = j, subvector = vec); an
   *     optional `cal` row carries (i = calibrated nprobe, vec empty)
   *     when `targetRecall` is set. Bounded by nlist + m·kcent (+1)
   *     rows — the per-batch driver collect contract of
   *     [[trainIvfCentroids]].
   *
   * `targetRecall` runs [[calibratePqNprobe]] — the [[calibrateNprobe]]
   * ascent but scored with the ACTUAL ADC ranking over the encoded
   * corpus, so the chosen nprobe prices BOTH cell misses and
   * quantization distortion; a target the codes cannot reach at any
   * nprobe fails loudly at build time (raise m/kcent or lower the
   * target) instead of shipping an index that silently under-delivers.
   * `refinedTargetRecall` additionally runs [[calibrateRefined]] and
   * persists the chosen (nprobe, shortlist) PAIR as a `cal_ref` meta
   * row — [[ivfPqTopKRefined]]`(autoNprobe = true)` reads it back, so
   * the two-stage path is self-sizing against cell density the same
   * way `cal_nprobe` made the single-stage paths self-sizing (round
   * 19; the fixed shortlist default decayed 0.9988 → 0.9047 recall
   * from 1M to 10M in the round-18 drill). Both calibrations use the
   * dispersion-margin accept rule (see [[calibrateNprobe]]).
   * Centroids and codebooks are the deterministic seed sets
   * ([[ivfPqTopK]]'s contract), so the DuckDB oracle recomputes the
   * index closed-form. Replacement goes through the staged two-table
   * swap + generation bump, exactly like [[writeIvfIndex]].
   *
   * `residual` defaults to TRUE (round 19): every round-18 drill read
   * residual (IVFADC) codes equal-or-better than raw-vector codes, and
   * on clustered corpora raw codes collapse outright (recall 0.100 vs
   * 0.807 at 1M grouped) — a silently-shipped raw default was the
   * remaining footgun. Pass `residual = false` only for the
   * oracle-exact raw twins or corpora known to be un-clustered.
   *
   * Rebuild contract: PQ codes are LOSSY — unlike the IVF `_cells`
   * table there are no raw vectors to retrain from, so a rebuild
   * always re-encodes from the SOURCE corpus. The streaming retrain
   * cadence is therefore: fold the delta
   * ([[graft.streaming.Streams.compactPqDelta]], so queries stay
   * complete), rebuild via this method from the full corpus (which
   * must include the streamed vectors — it is the source of truth),
   * then drop the (now superseded) delta tree; the generation bump
   * makes a sink or fold that missed the memo fail loudly.
   */
  def writePqIndex(corpus: DataFrame, baseTable: String, nlist: Int = 16,
                   m: Int = 4, kcent: Int = 16, dim: Int = 64,
                   numBuckets: Int = 8, idCol: String = "vec_id",
                   vecCol: String = "embedding",
                   targetRecall: Option[Double] = None,
                   recallK: Int = 10, recallSample: Int = 64,
                   maxNprobe: Int = 64,
                   calibrationQueries: Option[DataFrame] = None,
                   residual: Boolean = true,
                   refinedTargetRecall: Option[Double] = None,
                   maxShortlist: Int = 256,
                   marginZ: Double = 1.645): Unit = {
    val spark = corpus.sparkSession
    val cents = trainIvfCentroids(corpus, nlist, dim, iters = 0, idCol,
      vecCol)
    val books =
      if (residual) pqResidualCodebook(corpus, cents, m, kcent, dim,
        idCol, vecCol)
      else pqCodebook(corpus, m, kcent, dim, idCol, vecCol)
    require(cents.nonEmpty && books.head._1.nonEmpty,
      "writePqIndex needs a non-empty corpus to seed centroids/codebooks")
    val calNprobe = targetRecall.map(t =>
      calibratePqNprobe(corpus, cents, books, t, recallK, recallSample,
        maxNprobe, dim, idCol, vecCol, calibrationQueries, residual,
        marginZ)._1)
    val calRef = refinedTargetRecall.map(t =>
      calibrateRefined(corpus, cents, books, t, recallK, recallSample,
        maxNprobe, maxShortlist, dim, idCol, vecCol, calibrationQueries,
        residual, marginZ)._1)
    // workload fingerprint (round 20): persisted beside the calibrated
    // pair so the autoNprobe query paths can detect workload SHIFT —
    // the failure class the dispersion margin cannot see. Computed from
    // the SAME deterministic sample derivation the calibrators use.
    val calFp =
      if (targetRecall.isEmpty && refinedTargetRecall.isEmpty) None
      else {
        val vs = sampleVecs(calibrationQueries.getOrElse(corpus),
          recallSample, idCol, vecCol)
        if (vs.isEmpty) None
        else Some((vs.size, deciles(nearestCentroidCos(vs, cents))))
      }
    val coded = pqDeltaAssign(corpus, cents, books, dim, idCol, vecCol,
      residual)
    val gen =
      if (spark.catalog.tableExists(baseTable + "_pqmeta"))
        pqGeneration(spark, baseTable) + 1
      else 0L
    import spark.implicits._
    val meta = (cents.zipWithIndex.map { case (c, i) =>
      ("cent", i + 1, 0, c) } ++
      books.zipWithIndex.flatMap { case ((cb, _), j) =>
        cb.zipWithIndex.map { case (c, i) => ("book", j, i + 1, c) } } ++
      calNprobe.map(np => ("cal", np, 0, Seq.empty[Double])).toSeq ++
      calRef.map { case (np, s) =>
        ("cal_ref", np, s, Seq.empty[Double]) }.toSeq ++
      // the calibration CONTRACT rides the meta table alongside its
      // result (round 20): target + accept-rule z + sample spec, so
      // [[retrainPqIndex]] can recalibrate by default instead of
      // silently dropping the self-sizing story at exactly the moment
      // it matters most (a retrain happens because density changed).
      // (kind, i = recallK, j = recallSample,
      //  vec = [target, marginZ, maxNprobe (, maxShortlist)])
      targetRecall.map(t => ("cal_spec", recallK, recallSample,
        Seq(t, marginZ, maxNprobe.toDouble))).toSeq ++
      refinedTargetRecall.map(t => ("cal_ref_spec", recallK, recallSample,
        Seq(t, marginZ, maxNprobe.toDouble, maxShortlist.toDouble)))
        .toSeq ++
      // (kind = cal_fp, i = 0, j = sample size actually used,
      //  vec = nearest-centroid-cosine deciles of the calibration
      //  workload) — see [[checkWorkloadShift]]
      calFp.map { case (nUsed, d) => ("cal_fp", 0, nUsed, d) }.toSeq ++
      (if (residual) Seq(("res", 1, 0, Seq.empty[Double])) else Nil))
      .toDF("kind", "i", "j", "vec")
      .withColumn("gen", lit(gen))
    graft.tables.Tables.stageBucketedSwap(coded, baseTable + "_pqcodes",
      "cell", numBuckets)
    graft.tables.Tables.stageBucketedSwap(meta, baseTable + "_pqmeta",
      "kind", 1)
    graft.tables.Tables.commitSwaps(spark,
      Seq(baseTable + "_pqcodes", baseTable + "_pqmeta"))
  }

  /**
   * Periodic retrain/rebuild of a persisted [[writePqIndex]] index that
   * has grown through a [[graft.streaming.Streams.pqIngestSink]] delta
   * tree — [[retrainIvfIndex]]'s generation protocol adapted to the PQ
   * family's LOSSY codes:
   *
   *   1. fold the outstanding delta
   *      ([[graft.streaming.Streams.compactPqDelta]]) so the bulk codes
   *      table is complete — a crash after the fold but before the
   *      rebuild leaves a fully queryable single-tier index;
   *   2. rebuild via [[writePqIndex]] from `sourceCorpus` — codes
   *      cannot be retrained from themselves, so the SOURCE corpus
   *      (which must include every streamed vector; checked by count
   *      below) is the training set. The residual/raw kind survives
   *      the retrain by default (read from the current meta stamp);
   *      pass `residual = Some(…)` to flip it deliberately;
   *   3. the rebuild bumps `gen`, so a STILL-RUNNING sink started
   *      against the old codebooks fails loudly on its next batch.
   *
   * Run QUIESCED (sink stopped, no tiered queries in flight) — the
   * fold's own contract. The count guard is one aggregate over each
   * side: a `sourceCorpus` smaller than the folded bulk is proof it is
   * missing streamed vectors, and rebuilding from it would silently
   * DROP them from the index (the exact silent-loss class the
   * generation protocol exists to prevent).
   *
   * CALIBRATION survives the retrain: like the `kind='res'`
   * stamp, the calibration CONTRACT (target + z + sample spec, the
   * `cal_spec`/`cal_ref_spec` meta rows a calibrated [[writePqIndex]]
   * persists) is read back and RE-MEASURED against the rebuilt
   * codebooks by default when `targetRecall`/`refinedTargetRecall`
   * are not restated — the retrain happens because density changed,
   * which is exactly when the old (nprobe, shortlist) stops being the
   * right answer, so `autoNprobe` callers keep serving without the
   * caller re-plumbing build-time constants. Explicit targets still
   * win wholesale (and become the new persisted contract); a stored
   * target the rebuilt codes genuinely cannot reach refuses loudly
   * inside the calibrator, leaving the OLD index tables untouched
   * (the refusal happens before the staged swap). Workload-sample
   * calibrations (`calibrationQueries`) re-pass their sample here —
   * frames are not persistable in meta; omitting it falls back to the
   * corpus self-sample with the stored scalars.
   */
  def retrainPqIndex(spark: org.apache.spark.sql.SparkSession,
                     baseTable: String, deltaPath: String,
                     sourceCorpus: DataFrame, nlist: Int = 16,
                     m: Int = 4, kcent: Int = 16, dim: Int = 64,
                     numBuckets: Int = 8, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     targetRecall: Option[Double] = None,
                     recallK: Int = 10, recallSample: Int = 64,
                     maxNprobe: Int = 64,
                     calibrationQueries: Option[DataFrame] = None,
                     residual: Option[Boolean] = None,
                     refinedTargetRecall: Option[Double] = None,
                     maxShortlist: Int = 256,
                     marginZ: Double = 1.645): Unit = {
    graft.streaming.Streams.compactPqDelta(spark, deltaPath, baseTable,
      numBuckets, idCol)
    val res = residual.getOrElse(pqIsResidual(spark, baseTable))
    // the stored calibration contract — read BEFORE the rebuild swaps
    // the meta table out from under us; explicit caller targets win
    // wholesale (current behavior), otherwise the stored spec drives a
    // fresh calibration against the rebuilt codebooks
    val storedSingle = pqCalibrationSpec(spark, baseTable, refined = false)
    val storedRefined = pqCalibrationSpec(spark, baseTable, refined = true)
    val callerMode = targetRecall.isDefined || refinedTargetRecall.isDefined
    val (effTarget, effRefined, effK, effSample, effMaxNp, effMaxSl, effZ) =
      if (callerMode || (storedSingle.isEmpty && storedRefined.isEmpty))
        (targetRecall, refinedTargetRecall, recallK, recallSample,
          maxNprobe, maxShortlist, marginZ)
      else {
        // scalars come from the refined spec when present (it is the
        // stricter contract); both specs are written by one
        // writePqIndex call, so they agree in practice
        val s = storedRefined.getOrElse(storedSingle.get)
        (storedSingle.map(_.target), storedRefined.map(_.target),
          s.recallK, s.sample, s.maxNprobe,
          s.maxShortlist.getOrElse(maxShortlist), s.marginZ)
      }
    val folded = spark.table(baseTable + "_pqcodes").count()
    val src = sourceCorpus.count()
    require(src >= folded,
      s"retrainPqIndex source corpus has $src rows but the folded index " +
        s"'$baseTable' holds $folded — the source is missing streamed " +
        "vectors, and rebuilding from it would silently drop them. PQ " +
        "codes are lossy: the source corpus is the training set and " +
        "must include every ingested vector.")
    writePqIndex(sourceCorpus, baseTable, nlist, m, kcent, dim,
      numBuckets, idCol, vecCol, targetRecall = effTarget,
      recallK = effK, recallSample = effSample,
      maxNprobe = effMaxNp, calibrationQueries = calibrationQueries,
      residual = res, refinedTargetRecall = effRefined,
      maxShortlist = effMaxSl, marginZ = effZ)
  }

  /**
   * Live QUALITY audit of a persisted index (round 20): replay a small
   * HELD-OUT recall probe so an operator can audit what the index
   * actually serves — after a retrain, a fold, or a suspected workload
   * shift — rather than only its structure ([[verifyPqIndex]]) and its
   * build-time promise (the persisted calibration). The sample takes
   * the HIGHEST-xxhash64 `sample` ids, the far end of the ordering the
   * calibrators draw their sample from, so on any corpus larger than
   * 2×sample the probe is disjoint from the set the calibration
   * already optimized for.
   *
   * `kind = "pq"` probes through the index's own serving config —
   * the refined (nprobe, shortlist) pair when persisted (recall of the
   * exact-re-rank serving path equals truth∩shortlist containment,
   * since exact scores always rank true top-k members above shortlist
   * imposters), else the single-stage calibrated nprobe, else
   * `fallbackNprobe`. The PQ probe needs the RAW corpus (codes are
   * lossy — truth is not reconstructable from the index). `kind =
   * "ivf"` is self-contained (`_cells` holds the vectors); pass
   * `corpus = None`.
   *
   * Returns (pooled recall, truth-query count, mode description).
   * Cost: one brute-force pass over the corpus × sample (the ground
   * truth — this is an audit, not a serving path) plus one probe.
   */
  def measureIndexRecall(spark: org.apache.spark.sql.SparkSession,
                         baseTable: String, kind: String,
                         corpus: Option[DataFrame] = None,
                         k: Int = 10, sample: Int = 16,
                         fallbackNprobe: Int = 4,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding")
      : (Double, Long, String) = {
    require(Set("ivf", "pq")(kind), s"kind must be ivf or pq, got '$kind'")
    require(sample >= 1 && k >= 1, s"sample/k must be >= 1")
    val corp = kind match {
      case "ivf" =>
        require(corpus.isEmpty,
          "ivf recall audit is self-contained — omit the corpus")
        spark.table(baseTable + "_cells")
          .select(col(idCol), col("vec").as(vecCol))
      case _ =>
        corpus.getOrElse(throw new IllegalArgumentException(
          "pq recall audit needs the raw corpus (codes are lossy; " +
            "ground truth cannot be reconstructed from the index)"))
    }
    // held-out end of the calibrators' deterministic ordering
    val q = corp.select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol)).desc, col(idCol).desc).limit(sample)
      .localCheckpoint(true)
    val truth = bruteForceTopK(corp, q, k, idCol, vecCol)
      .select("query_id", "neighbor_id").localCheckpoint(true)
    val denom = truth.count()
    if (denom == 0) return (1.0, 0L, "empty-corpus")
    val (got, mode) = kind match {
      case "ivf" =>
        val np = calibratedNprobe(spark, baseTable)
          .getOrElse(fallbackNprobe)
        val tag = if (calibratedNprobe(spark, baseTable).isDefined)
          s"ivf(cal_nprobe=$np)" else s"ivf(default nprobe=$np)"
        (ivfTopKAgainstIndex(q, baseTable, k = k + 1, nprobe = np,
          idCol = idCol, vecCol = vecCol), tag)
      case _ =>
        calibratedRefined(spark, baseTable) match {
          case Some((np, sl)) =>
            (ivfPqTopKIndexed(q, baseTable, k = math.max(sl, k + 1),
              nprobe = np, dim = pqIndexDim(spark, baseTable),
              idCol = idCol, vecCol = vecCol),
              s"pq-refined(nprobe=$np,shortlist=$sl)")
          case None =>
            val np = calibratedPqNprobe(spark, baseTable)
              .getOrElse(fallbackNprobe)
            val tag = if (calibratedPqNprobe(spark, baseTable).isDefined)
              s"pq-adc(cal_nprobe=$np)" else s"pq-adc(default nprobe=$np)"
            (ivfPqTopKIndexed(q, baseTable, k = k + 1, nprobe = np,
              dim = pqIndexDim(spark, baseTable),
              idCol = idCol, vecCol = vecCol), tag)
        }
    }
    // the probe includes self-hits (queries are corpus members and the
    // index serves them); truth excludes self — fetch k+1, drop self,
    // and truncate back to the top k the serving path would return.
    // (The refined mode needs no truncation: its got IS the shortlist,
    // and the exact re-rank always carries true members through —
    // containment equals serving recall there.)
    val noSelf = got.select("query_id", "neighbor_id", "rank")
      .filter(col("query_id") =!= col("neighbor_id"))
    val served =
      if (mode.startsWith("pq-refined")) noSelf
      else noSelf.withColumn("__rr", row_number().over(
          Window.partitionBy("query_id").orderBy(col("rank"))))
        .filter(col("__rr") <= k)
    val hits = served.select("query_id", "neighbor_id")
      .join(truth, Seq("query_id", "neighbor_id")).count()
    (hits.toDouble / denom, denom, mode)
  }

  /** The persisted PQ index's vector dimension, derived from the
   * codebooks (m subspaces × subvector width). */
  private def pqIndexDim(spark: org.apache.spark.sql.SparkSession,
                         baseTable: String): Int = {
    val books = pqRouting(spark, baseTable)._2
    books.size * books.head._1.head.size
  }

  /** The persisted PQ index's generation — the [[ivfGeneration]]
   * contract over `<base>_pqmeta`. */
  def pqGeneration(spark: org.apache.spark.sql.SparkSession,
                   baseTable: String): Long = {
    val t = spark.table(baseTable + "_pqmeta")
    t.agg(max(col("gen"))).first() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
  }

  /**
   * [[ivfPqTopK]] against a PERSISTED [[writePqIndex]] index —
   * identical output contract (same seed centroids, codebooks, probes,
   * micro-floored ADC, tie-breaks; one shared ranking code path),
   * different physical plan: codebooks never retrain, the corpus is
   * never re-encoded, and the candidate join reads `<base>_pqcodes` at
   * its bucketing — per query batch only the nlist + m·kcent meta rows
   * collect and O(queries × nprobe) LUT rows move.
   */
  def ivfPqTopKIndexed(queries: DataFrame, baseTable: String,
                       k: Int = 10, nprobe: Int = 4, dim: Int = 64,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       autoNprobe: Boolean = false,
                       shiftGuard: String = "warn"): DataFrame = {
    val spark = queries.sparkSession
    val (cents, books) = pqRouting(spark, baseTable)
    val np =
      if (!autoNprobe) nprobe
      else calibratedPqNprobe(spark, baseTable).getOrElse(
        throw new IllegalStateException(
          s"autoNprobe requested but PQ index '$baseTable' carries no " +
            "calibration — rebuild with writePqIndex(targetRecall = " +
            "Some(...)) or pass an explicit nprobe"))
    // a persisted calibration is only trustworthy on the workload it
    // was measured against — see [[checkWorkloadShift]]
    if (autoNprobe)
      checkWorkloadShift(queries, baseTable, shiftGuard, idCol, vecCol)
    val m = books.size
    val res = pqIsResidual(spark, baseTable)
    val coded = spark.table(baseTable + "_pqcodes")
      .select(col(idCol).as("neighbor_id") +: col("cell") +:
        (0 until m).map(j => col(s"__code$j")) ++:
        (if (res) Seq(col("__corr")) else Nil): _*)
    ivfPqAdcRank(coded, queries, cents, books, k, np, dim / m, idCol,
      vecCol, residual = res)
  }

  /**
   * The persisted PQ index's frozen routing table + codebooks as driver
   * values — (centroids, per-subspace (codebook, biases)), the
   * nlist + m·kcent-bounded collect every PQ probe/assign path starts
   * from (the [[ivfRouting]] contract). Biases rebuild with the SAME
   * index-order fold as [[pqCodebook]]'s, so they are bit-identical to
   * a cold build's. Fails loudly on a half-present table pair.
   */
  def pqRouting(spark: org.apache.spark.sql.SparkSession,
                baseTable: String)
      : (Seq[Seq[Double]], Seq[(Seq[Seq[Double]], Seq[Double])]) = {
    val hasCodes = spark.catalog.tableExists(baseTable + "_pqcodes")
    val hasMeta = spark.catalog.tableExists(baseTable + "_pqmeta")
    if (!hasCodes || !hasMeta)
      throw new IllegalStateException(
        s"PQ index for '$baseTable' is incomplete (codes=$hasCodes, " +
          s"meta=$hasMeta): run Tables.recoverSwap on both tables and " +
          "re-run writePqIndex before querying")
    val meta = spark.table(baseTable + "_pqmeta")
      .select("kind", "i", "j", "vec").collect()
    val cents = meta.filter(_.getString(0) == "cent")
      .sortBy(_.getInt(1)).map(_.getSeq[Double](3).toSeq).toSeq
    val books = meta.filter(_.getString(0) == "book")
      .groupBy(_.getInt(1)).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        val cb = rows.sortBy(_.getInt(2)).map(_.getSeq[Double](3).toSeq)
          .toSeq
        (cb, cb.map(c => c.foldLeft(0.0)((a, x) => a + x * x) * 0.5))
      }
    (cents, books)
  }

  /**
   * Encode a batch of NEW vectors against the persisted PQ index's
   * FROZEN centroids + codebooks — the incremental half of
   * [[writePqIndex]], mirroring [[ivfDeltaAssign]]: one narrow
   * projection emits the `_pqcodes` row shape (idCol, cell,
   * __code0..__code{m-1}). Codebooks and centroids stay frozen between
   * rebuilds; the REBUILD ORDER contract is [[ivfDeltaAssign]]'s —
   * fold the delta ([[graft.streaming.Streams.compactPqDelta]]) before
   * any [[writePqIndex]] retrain. `residual` defaults TRUE — the
   * build-companion convention (see [[calibrateRefined]]); the ingest
   * sink passes the persisted index's own `pqIsResidual` stamp, which
   * is always the right value.
   */
  def pqDeltaAssign(batch: DataFrame, cents: Seq[Seq[Double]],
                    books: Seq[(Seq[Seq[Double]], Seq[Double])],
                    dim: Int = 64, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    residual: Boolean = true): DataFrame = {
    val m = books.size
    val assigned = withIvfCell(batch, cents, vecCol)
    val coded =
      if (residual)
        withResidualCorr(
          withPqCodes(assigned.withColumn("__rawcents", typedLit(cents))
              .withColumn("__res", expr(residualExpr(vecCol))),
            books, dim / m, "__res"),
          books, dim / m)
      else withPqCodes(assigned, books, dim / m, vecCol)
    coded.select(col(idCol) +: col("__cell").as("cell") +:
      (0 until m).map(j => col(s"__code$j")) ++:
      (if (residual) Seq(col("__corr")) else Nil): _*)
  }

  /**
   * [[ivfPqTopKIndexed]] over the TIERED corpus: the bucketed bulk
   * `_pqcodes` table plus the `batch=<id>` delta tree a
   * [[graft.streaming.Streams.pqIngestSink]] appends, read by
   * [[graft.streaming.Streams.tieredCorpus]] under [[ivfTopKTiered]]'s
   * concurrency contract.
   */
  def ivfPqTopKTiered(queries: DataFrame, baseTable: String,
                      deltaPath: String, k: Int = 10, nprobe: Int = 4,
                      dim: Int = 64, idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      autoNprobe: Boolean = false): DataFrame = {
    val spark = queries.sparkSession
    val (cents, books) = pqRouting(spark, baseTable)
    val np =
      if (!autoNprobe) nprobe
      else calibratedPqNprobe(spark, baseTable).getOrElse(
        throw new IllegalStateException(
          s"autoNprobe requested but PQ index '$baseTable' carries no " +
            "calibration — rebuild with writePqIndex(targetRecall = " +
            "Some(...)) or pass an explicit nprobe"))
    val m = books.size
    val res = pqIsResidual(spark, baseTable)
    val codeCols = (0 until m).map(j => col(s"__code$j")) ++
      (if (res) Seq(col("__corr")) else Nil)
    val (corpus, tiered) = graft.streaming.Streams.tieredCorpus(spark,
      baseTable + "_pqcodes", deltaPath,
      col(idCol).as("neighbor_id") +: col("cell") +: codeCols)
    ivfPqAdcRank(corpus, queries, cents, books, k, np, dim / m,
      idCol, vecCol, dedupCandidates = tiered, residual = res)
  }

  /**
   * Matryoshka two-stage top-k (Kusupati et al., "Matryoshka
   * Representation Learning", NeurIPS 2022): MRL-trained embeddings
   * carry a usable representation in every prefix, so stage 1 ranks by
   * cosine over only the first `prefixDim` dimensions and keeps a
   * `shortlist` per query; stage 2 re-ranks just the shortlist with the
   * exact full-dimension cosine. Compute drops ~`dim/prefixDim`× on the
   * corpus-wide stage; the full vectors are touched for only
   * `queries × shortlist` rows.
   *
   * Scale: stage 1 is a broadcast-NLJ over a PREFIX-ONLY projection (at
   * 100 TB, store the prefix as its own parquet column and the wide
   * column is never scanned); stage 2 fetches full vectors by joining
   * the corpus against the BROADCAST shortlist (queries × shortlist
   * rows, tiny) — the corpus never shuffles in either stage. Both
   * stages rank through one window partitioned by query with id
   * tie-breaks, deterministic end to end.
   */
  def matryoshkaTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                     prefixDim: Int = 16, shortlist: Int = 40,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val cPre = corpus.select(col(idCol).as("neighbor_id"),
      expr(s"slice($vecCol, 1, $prefixDim)").as("vp"))
      .withColumn("np", VectorFns.norm("vp"))
    val qPre = queries.select(col(idCol).as("query_id"),
      expr(s"slice($vecCol, 1, $prefixDim)").as("qp"))
      .withColumn("nqp", VectorFns.norm("qp"))
    val w1 = Window.partitionBy("query_id")
      .orderBy(col("pcos").desc, col("neighbor_id").asc)
    val cand = cPre.join(broadcast(qPre), col("query_id") =!= col("neighbor_id"))
      .withColumn("pcos", VectorFns.dot("qp", "vp") / (col("nqp") * col("np")))
      .withColumn("prank", row_number().over(w1))
      .filter(col("prank") <= shortlist)
      .select("query_id", "neighbor_id")
    val cFull = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("vc"), VectorFns.norm(vecCol).as("nc"))
    val qFull = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("vq"), VectorFns.norm(vecCol).as("nq"))
    val w2 = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    cFull.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(qFull), Seq("query_id"))
      .withColumn("cos", VectorFns.dot("vq", "vc") / (col("nq") * col("nc")))
      .withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /**
   * SemDeDup-style semantic deduplication (Abbas et al.,
   * "SemDeDup: Data-efficient learning at web-scale through semantic
   * deduplication", arXiv:2303.09540): cluster embeddings into `nlist`
   * cells (the same deterministic seed-centroid trainer as [[ivfTopK]]),
   * compare pairs only WITHIN a cell, and mark as dropped every vector
   * with a lower-id neighbor at cosine >= `threshold` in its cell. The
   * paper keeps one representative per semantic neighborhood; lowest id
   * is the deterministic choice of representative.
   *
   * Scale: the pairwise stage is per-cell — candidate volume is bounded
   * by cellsize² per cell, and `nlist` grows with the corpus to hold
   * cells bounded (the centroid collect is nlist x dim, never
   * corpus-sized). `maxCellSize` is the skew guard: a cell holding more
   * vectors than the cap skips pair generation entirely (all its vectors
   * stay kept) — recall-only, same philosophy as the LSH bucket caps, and
   * modeled exactly in the oracle so precision stays hash-checked. The
   * id-pair self-join carries (cell, id) only; vectors re-attach after.
   *
   * Emits one row per input vector: (idCol, cell, kept).
   */
  def semanticDedup(emb: DataFrame, threshold: Double = 0.7, nlist: Int = 16,
                    dim: Int = 64, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    maxCellSize: Option[Int] = Some(4096)): DataFrame = {
    val cents = trainIvfCentroids(emb, nlist, dim, iters = 0, idCol, vecCol)
    val cells = withIvfCell(emb, cents, vecCol)
      .select(col(idCol), col(vecCol), VectorFns.norm(vecCol).as("nrm"),
        col("__cell").as("cell"))
    val base = Dedup.capBuckets(
      cells.select(col(idCol), col("cell")), Seq("cell"), maxCellSize)
    val a = base.select(col("cell"), col(idCol).as("a"))
    val b = base.select(col("cell"), col(idCol).as("b"))
    val vecs = cells.select(col(idCol), col(vecCol), col("nrm"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("a") < col("b"))
      .join(vecs.select(col(idCol).as("a"), col(vecCol).as("va"),
        col("nrm").as("na")), "a")
      .join(vecs.select(col(idCol).as("b"), col(vecCol).as("vb"),
        col("nrm").as("nb")), "b")
      .withColumn("cos", VectorFns.dot("va", "vb") / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("b").as(idCol)).distinct()
    cells.select(col(idCol), col("cell"))
      .join(dropped.withColumn("__drop", lit(1)), Seq(idCol), "left")
      .select(col(idCol), col("cell"), col("__drop").isNull.as("kept"))
  }

  /**
   * Threshold-derived hyperplane-LSH layout: the (numPlanes, numTables)
   * pair a near-dup contract at cosine `threshold` should band with,
   * under a `totalBits` packed-signature budget.
   *
   * The rule: pick the LARGEST planes-per-table k (deepest pruning —
   * random-pair candidacy is ~L/2^k) whose modeled recall
   * `1 - (1 - q^k)^L` with `L = totalBits / k` still reaches
   * `targetRecall`, where `q = 1 - acos(c_eval)/pi` is the per-plane
   * collision probability. The evaluation cosine `c_eval` encodes what
   * a near-dup CONTRACT means at each regime (measured on the fixture
   * corpora, `BENCH_scaling.md` round 11):
   *  - LOOSE thresholds (c < 0.6): pairs that qualify sit AT the
   *    boundary (the sf fixtures' exact pairs at t=0.4 all lie in
   *    0.40-0.60), so recall is evaluated at the threshold itself —
   *    few planes, wide tables, banding prunes little (documented
   *    honestly on [[graft.operators.Dedup.embeddingNearDupLsh]]).
   *  - TIGHT thresholds (c >= 0.6): qualifying pairs are actual
   *    near-copies whose cosines concentrate well above the boundary
   *    (a perturbed-clone near-dup sits at 0.93-0.97), so recall is
   *    evaluated at the midpoint (1 + c)/2 of the dup regime — more
   *    planes, deep pruning.
   * The model is trustworthy because the plane generator is mixed (see
   * [[planeComponent]]): measured recall tracks modeled recall to
   * ~0.001 at the layouts this returns. Derived layouts: 0.4 -> 3x21,
   * 0.7 -> 6x10, 0.9 -> 9x7 (asserted in SimilaritySpec).
   */
  def lshLayout(threshold: Double, totalBits: Int = 63,
                targetRecall: Double = 0.95): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"cosine threshold must be in (0, 1), got $threshold")
    val cEval = if (threshold < 0.6) threshold else (1.0 + threshold) / 2.0
    val q = 1.0 - math.acos(cEval) / math.Pi
    var best = (1, totalBits)
    var k = 1
    while (k <= 16 && totalBits / k >= 1) {
      val l = totalBits / k
      val rec = 1.0 - math.pow(1.0 - math.pow(q, k), l)
      if (rec >= targetRecall) best = (k, l)
      k += 1
    }
    best
  }

  /**
   * Recall-calibration corpus augmentation: every vector gets a
   * deterministic near-duplicate twin — the vector plus `eps` times a
   * closed-form pseudo-random perturbation, under `idCol + idOffset`.
   * At the default `eps = 0.0625` on unit-norm 64-dim embeddings the
   * planted pairs land at cosine ~0.95-0.97: solidly inside a tight
   * near-dup contract (c >= 0.9) without being trivially identical
   * (identical vectors share signatures and would measure recall 1.0
   * at ANY layout — a useless gate). The perturbation is the same
   * mixed-LCG closed form as [[planeComponent]] seeded by
   * `(id * 8191 + d + 1) mod (2^31 - 1)`, so a DuckDB oracle
   * recomputes the planted corpus bit-identically and recall gates
   * over it stay hash-checked.
   *
   * Output is (idCol, vecCol) with the vector as ARRAY<DOUBLE> on both
   * branches (the float corpus is cast exactly). Scale: one narrow
   * projection per branch, no shuffle, no collect.
   */
  def plantNearDups(emb: DataFrame, eps: Double = 0.0625,
                    idOffset: Long = 1000000L, dim: Int = 64,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val seed = s"(($idCol * 8191 + d + 1) % 2147483647)"
    val x1 = s"((1103515245L * $seed + 12345L) % 2147483647L)"
    val mix = s"((1103515245L * ($x1 ^ shiftright($x1, 13)) + 12345L) % 2147483647L)"
    val orig = emb.select(col(idCol),
      col(vecCol).cast("array<double>").as(vecCol))
    val planted = emb.select(
      (col(idCol) + lit(idOffset)).as(idCol),
      expr(
        s"""transform(sequence(0, ${dim - 1}), d ->
           |  CAST(element_at($vecCol, d + 1) AS DOUBLE) +
           |  $eps * (($mix % 2001L) - 1000L) / 1000.0)""".stripMargin)
        .as(vecCol))
    orig.unionByName(planted)
  }

  /**
   * Multi-table hyperplane-LSH near-neighbor candidate pairs: `numTables`
   * independent plane sets of `numPlanes` each; vectors sharing any table's
   * bucket are compared exactly and filtered by cosine threshold.
   *
   * Recall amplification: a pair at cosine c collides in one table with
   * p = (1 - acos(c)/pi)^numPlanes, and in any of L tables with
   * 1 - (1-p)^L — defaults (4 planes x 16 tables) give ~94% recall at
   * c = 0.4 and >99.9% at c >= 0.7. O(n * L) bucketing, no all-pairs:
   * the scale path when the exact operator's cross join is infeasible.
   *
   * `maxBucketSize` drops any (table, bucket) holding more vectors than the
   * cap before the candidate self-join — with few planes per table (or
   * correlated embeddings) one bucket can hold a large corpus fraction and
   * its self-join is a d² blowup on a single shuffle key. Recall-only: a
   * pair loses only its overflowed tables, and close pairs collide in many
   * tables. The cap is fully oracle-modelable (plane signs are a closed
   * form), so the capped contract stays hash-checkable.
   *
   * `maxBucketLoad` is the OCCUPANCY-RELATIVE form of the same guard —
   * the one to reach for when n is not known up front: a bucket is
   * dropped when it holds more than
   * `max(64, ceil(load * n / 2^numPlanes))` vectors, i.e. `load` times
   * the expected uniform occupancy (computed in-plan from the bucket
   * sizes; integer-exact, so still oracle-modelable). Unlike a fixed
   * cap, it cannot zero the output on a wide layout: with few planes
   * the expected occupancy is large and the cap scales with it (a
   * constant cap of 64 at a 3-plane/8-bucket layout culls EVERY bucket
   * — measured round 10), while a genuinely degenerate bucket (a mass
   * of identical or axis-aligned vectors) still gets dropped. The
   * floor of 64 keeps small corpora exact.
   */
  def hyperplaneLshPairs(emb: DataFrame, threshold: Double = 0.4,
                         numPlanes: Int = 4, numTables: Int = 16, dim: Int = 64,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         maxBucketSize: Option[Int] = None,
                         maxBucketLoad: Option[Int] = None): DataFrame = {
    require(numTables * numPlanes <= 64,
      "numTables * numPlanes must fit a packed 64-bit signature")
    // each table's bucket is an INT slice of the signature
    require(numPlanes >= 1 && numPlanes <= 31,
      s"numPlanes must be in [1, 31], got $numPlanes")
    require(maxBucketSize.isEmpty || maxBucketLoad.isEmpty,
      "pick one of maxBucketSize (absolute) / maxBucketLoad (relative)")
    // All plane-sign bits packed into ONE BIGINT by the native
    // graft_hyperplane_sig expression — the whole plane matrix in one
    // fused codegen loop per vector (plane components are the same
    // closed-form LCG the oracle recomputes). Replaced the HOF chain
    // (transform over a typedLit plane matrix + zip_with bit packing)
    // that paid an interpreted lambda dispatch per plane per row.
    // Per-table buckets are then cheap shifted slices of the signature.
    val bits = emb
      .withColumn("__sig", expr(
        s"graft_hyperplane_sig($vecCol, ${numTables * numPlanes}, $dim)"))
    val mask = (1L << numPlanes) - 1
    val bucketRows = bits.select(
      col(idCol),
      explode(array((0 until numTables).map { t =>
        struct(lit(t).as("tbl"),
          expr(s"CAST(shiftright(__sig, ${t * numPlanes}) & $mask AS INT)").as("bucket"))
      }: _*)).as("tb"))
      .select(col(idCol), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val base = maxBucketLoad match {
      case Some(load) =>
        // relative cap: bucket size <= max(64, ceil(load * n / 2^planes)),
        // all integer arithmetic so the DuckDB oracle mirrors it exactly
        val nb = 1L << numPlanes
        val kept = bucketRows.groupBy("tbl", "bucket")
          .agg(count(lit(1)).as("__bs"))
          .withColumn("__tot",
            sum("__bs").over(Window.partitionBy("tbl")))
          .filter(col("__bs") <=
            greatest(lit(64L), expr(s"($load * __tot + ${nb - 1}) DIV $nb")))
          .select("tbl", "bucket")
        bucketRows.join(kept, Seq("tbl", "bucket"))
      case None => Dedup.capBuckets(bucketRows, Seq("tbl", "bucket"), maxBucketSize)
    }
    // widen the streamed bucket side and the candidate pairs when the
    // layout is candidate-DENSE: expected random-pair candidacy is
    // numTables/2^planes, so a loose layout (0.4-threshold: 21 tables x
    // 3 planes = 2.6) generates corpus-quadratic-grade candidate volume
    // whose bucket join + distinct + cosine verify is pure CPU on narrow
    // rows — byte-based AQE coalescing serializes it (Par scaladoc;
    // measured: 3.7M bucket-join rows on 1 of 32 cores at sf0.1). A
    // tight layout (0.9-threshold: 7 x 2^-9 = 0.014) has output-scale
    // candidates where the extra exchanges are a net loss — measured
    // both ways in round 21.
    val dense = numTables.toDouble / math.pow(2.0, numPlanes) >= 0.5
    val a0 = base.select(col("tbl"), col("bucket"), col(idCol).as("a"))
    val a = if (dense) Par.widen(a0, col("tbl"), col("bucket")) else a0
    val b = base.select(col("tbl"), col("bucket"), col(idCol).as("b"))
    // dedup on the 16-byte id pair BEFORE re-attaching vectors (the
    // distinct shuffles small keys, not float arrays replicated
    // numTables times), with the distinct's own exchange pinned wide so
    // the cosine verify fuses onto a full-parallelism final aggregate
    // instead of a byte-coalesced one — zero extra exchanges. Unlike
    // the bucket-side widen above, this pair pin is UNCONDITIONAL (all
    // layouts): the round-21 tight-layout A/B accepted it (pair rows
    // are post-dedup and the verify is pure CPU), and the round-21
    // driver run measured the tight queries flat, not regressed,
    // with it in place (ADVICE r21 asked for the comment to say so)
    val cand = a.join(b, Seq("tbl", "bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b")
      .pipe(Par.widen(_, col("a"), col("b"))).distinct()
    val vecs = emb.select(col(idCol), col(vecCol), VectorFns.norm(vecCol).as("nrm"))
    cand
      .join(vecs.select(col(idCol).as("a"), col(vecCol).as("va"), col("nrm").as("na")), "a")
      .join(vecs.select(col(idCol).as("b"), col(vecCol).as("vb"), col("nrm").as("nb")), "b")
      .withColumn("cos", VectorFns.dot("va", "vb") / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("a").as("vec_a"), col("b").as("vec_b"))
  }

  /**
   * Recall / precision of an approximate near-neighbor pair set against
   * the exact ground truth at the same threshold — the eval you run (on a
   * SAMPLE: the exact side is quadratic by definition) to size LSH
   * parameters (planes, tables, bucket caps) before a production pass.
   * Returns one row: pair counts, hits, recall and precision. For the
   * verified LSH operators precision is 1.0 by construction (candidates
   * are cosine-checked); recall is the number the cap/table trade moves.
   *
   * Both inputs must expose (vec_a, vec_b) with vec_a < vec_b. The three
   * aggregates are single-row frames, so the combining cross joins are
   * free (broadcast of one row each).
   */
  def annRecall(approx: DataFrame, exact: DataFrame): DataFrame = {
    val key = Seq("vec_a", "vec_b")
    val nHit = approx.join(exact, key).agg(count(lit(1)).as("n_hit"))
    val nApprox = approx.agg(count(lit(1)).as("n_approx"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    nExact.crossJoin(nApprox).crossJoin(nHit)
      .select(
        col("n_exact"), col("n_approx"), col("n_hit"),
        when(col("n_exact") > 0,
          col("n_hit").cast("double") / col("n_exact")).as("recall"),
        when(col("n_approx") > 0,
          col("n_hit").cast("double") / col("n_approx")).as("precision"))
  }

  /**
   * Embedding-space benchmark decontamination — the semantic twin of
   * [[Dedup.decontaminate]] (which matches exact shingles): drop corpus
   * vectors whose cosine to ANY probe (benchmark) embedding reaches
   * `threshold`, catching paraphrased contamination that no n-gram
   * overlap can see. Emits every corpus vector as
   * (idCol, n_flagged_probes, kept) — integer-only, so the row is
   * engine-exact even though the cosine test runs in doubles (one fixed
   * IEEE expression tree per pair, identically evaluated by the oracle).
   *
   * Scale: probes broadcast (benchmark sets are small by nature); the
   * corpus side streams through one broadcast-NLJ + per-vector count
   * aggregate — never shuffled, never collected. For probe sets beyond
   * broadcast size, pre-bucket both sides with [[hyperplaneLshPairs]]'s
   * signature machinery instead.
   */
  def semanticDecontaminate(corpus: DataFrame, probes: DataFrame,
                            threshold: Double = 0.7,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol).as("vc"),
      VectorFns.norm(vecCol).as("nc"))
    val p = probes.select(col(idCol).as("__pid"), col(vecCol).as("vp"),
      VectorFns.norm(vecCol).as("np"))
    c.join(broadcast(p), col(idCol) =!= col("__pid"), "left")
      .withColumn("__hit",
        when(VectorFns.dot("vc", "vp") / (col("nc") * col("np"))
          >= threshold, 1L).otherwise(0L))
      .groupBy(idCol)
      .agg(sum("__hit").cast("long").as("n_flagged_probes"))
      .withColumn("kept", col("n_flagged_probes") === 0L)
  }

  /**
   * Hard-negative mining for contrastive training: for each anchor in
   * `queries`, the top-k most-cosine-similar corpus vectors with a
   * DIFFERENT label — the near-misses that make the best negatives for
   * embedding-model training. Same plan shape as [[bruteForceTopK]]
   * (scan → broadcast-NLJ → per-anchor window; the corpus side never
   * shuffles), with the label-mismatch predicate folded into the join so
   * same-label pairs never reach the ranker. Emits integer-only rows
   * (anchor_id, anchor_label, negative_id, negative_label, rank) —
   * cosine stays internal to the ORDER BY, so the result is
   * engine-exact.
   */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val c = corpus.select(col(idCol).as("negative_id"),
      col(labelCol).as("negative_label"), col(vecCol).as("vc"),
      VectorFns.norm(vecCol).as("nc"))
    val q = queries.select(col(idCol).as("anchor_id"),
      col(labelCol).as("anchor_label"), col(vecCol).as("vq"),
      VectorFns.norm(vecCol).as("nq"))
    val w = Window.partitionBy("anchor_id")
      .orderBy(col("cos").desc, col("negative_id").asc)
    c.join(broadcast(q), col("anchor_label") =!= col("negative_label"))
      .withColumn("cos", VectorFns.dot("vq", "vc") / (col("nq") * col("nc")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("anchor_id", "anchor_label", "negative_id", "negative_label",
        "rank")
  }

  /**
   * Centroid-distance outlier detection (dataset cartography / label-noise
   * screening): squared distance of every vector to its own label's
   * centroid, with the farthest `outlierPermille`‰ per label flagged —
   * mislabeled or off-distribution points to re-screen before training.
   *
   * Exactness: runs entirely in the micro-unit integer space of
   * [[embeddingCentroids]] — vectors quantize to BIGINT micro-units, the
   * per-(label, dim) mean is the floored integer centroid, and the
   * squared distance Σ(x−m)² is a BIGINT sum (associative, so
   * partition- and engine-invariant; unit-norm micro vectors keep the
   * 64-dim sum ≲ 2^44). The flag threshold is a per-label row_number
   * cutoff `rank > n − ceil(n·p/1000)` — integers end to end.
   *
   * Scale: one corpus explode feeds the dimension-bounded centroid
   * aggregate; the centroid frame (|labels| rows) broadcasts back onto
   * the unexploded corpus, and the distance folds per row inside one
   * codegen'd HOF (zip_with + aggregate) — no second explode, one
   * label-keyed shuffle for the ranking window.
   */
  def embeddingOutliers(emb: DataFrame, outlierPermille: Int = 50,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        labelCol: String = "label"): DataFrame = {
    val micro = emb.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(labelCol),
        expr(s"transform($vecCol, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
          .as("__xm"))
    val cents = micro
      .select(col(labelCol), posexplode(col("__xm")))
      .groupBy(col(labelCol), col("pos"))
      .agg(sum("col").as("s"), count(lit(1)).as("n"))
      .withColumn("m", floor(col("s").cast("double") / col("n")).cast("long"))
      .groupBy(labelCol)
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("__ms"))
      .select(col(labelCol), expr("transform(__ms, s -> s.m)").as("__cm"))
    val w = Window.partitionBy(labelCol)
      .orderBy(col("d2_micro").asc, col(idCol).asc)
    val nw = Window.partitionBy(labelCol)
    micro.join(broadcast(cents), labelCol :: Nil)
      .withColumn("d2_micro",
        expr("aggregate(zip_with(__xm, __cm, (x, m) -> (x - m) * (x - m)), 0L, (acc, v) -> acc + v)"))
      .withColumn("__n", count(lit(1)).over(nw))
      .withColumn("__rk", row_number().over(w).cast("long"))
      .withColumn("is_outlier",
        col("__rk") > col("__n") - ceil(col("__n") * outlierPermille / 1000))
      .select(col(idCol), col(labelCol), col("d2_micro"), col("is_outlier"))
  }

  /**
   * Mutual (reciprocal) k-nearest-neighbor pairs: (a, b) such that b is
   * in a's cosine top-k AND a is in b's — the symmetric kNN graph that
   * density-based embedding clustering (HDBSCAN-style), manifold
   * methods, and reciprocal-rank near-dup screens build on. Mutuality
   * is the standard asymmetry filter: a hub vector appearing in
   * thousands of top-k lists only keeps edges to vectors that
   * reciprocate, so hub-induced false clusters never form. Emits
   * (vec_a, vec_b) with vec_a < vec_b, each pair once.
   *
   * Scale: the kNN feed is [[bruteForceTopK]] self-kNN here (exact —
   * this operator doubles as the oracle-checkable baseline); swap in
   * [[ivfTopK]]'s cell-probed feed when brute force is too wide. The
   * mutuality step itself joins the n·k edge list against its own
   * reversal on the (8-byte, 8-byte) pair key — output-bounded,
   * never corpus².
   */
  def mutualKnnPairs(emb: DataFrame, k: Int = 10, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    // self-kNN is symmetric: evaluate each UNORDERED pair's cosine once
    // (a < b halves the broadcast-NLJ pair count vs bruteForceTopK with
    // queries = corpus) and mirror the skinny (a, b, cos) rows for the
    // per-query ranking. Both the half-pair frame and the final edge
    // list are pinned: each is referenced twice, sits above a non-
    // exchange operator (NLJ / window) that ReuseExchange cannot
    // dedupe, and is small (24 bytes/pair, 2 longs/edge) — the
    // pin-small-frames rule from triangle_count.
    val c = emb.select(col(idCol).as("a"), col(vecCol).as("va"),
      VectorFns.norm(vecCol).as("na"))
    val q = emb.select(col(idCol).as("b"), col(vecCol).as("vb"),
      VectorFns.norm(vecCol).as("nb"))
    val half = c.join(broadcast(q), col("a") < col("b"))
      .select(col("a"), col("b"),
        (VectorFns.dot("va", "vb") / (col("na") * col("nb"))).as("cos"))
      .localCheckpoint(true)
    val full = half
      .select(col("a").as("query_id"), col("b").as("neighbor_id"), col("cos"))
      .union(half.select(col("b").as("query_id"), col("a").as("neighbor_id"),
        col("cos")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    val knn = full
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(true)
    knn.as("f").join(knn.as("r"),
        col("f.query_id") === col("r.neighbor_id") &&
          col("f.neighbor_id") === col("r.query_id"))
      .filter(col("f.query_id") < col("f.neighbor_id"))
      .select(col("f.query_id").as("vec_a"),
        col("f.neighbor_id").as("vec_b"))
  }

  /**
   * Mutual kNN pairs with an [[ivfTopK]] feed — the production path.
   * [[mutualKnnPairs]] evaluates every (a, b) cosine (O(n²) — exact, but
   * 10,000× the work at 100× the data); here each vector ranks only the
   * candidates inside its `nprobe` probed IVF cells, so the kNN feed
   * touches ~`nprobe/nlist` of the corpus per query and the corpus side
   * joins on `cell` without shuffling (cell counts are nlist-bounded).
   * Recall < 1 by construction — [[annRecall]] against the exact twin is
   * the oracle-enforced gate (`mutual_knn_recall`), mirroring
   * `dedup_recall`/`ann_recall`.
   *
   * Mutuality itself is unchanged: the n·k edge list joins its own
   * reversal on the (8-byte, 8-byte) pair key — output-bounded. The edge
   * list is pinned (referenced twice above a window, which ReuseExchange
   * cannot dedupe; 2 longs/edge).
   */
  def mutualKnnPairsIvf(emb: DataFrame, k: Int = 10, nlist: Int = 16,
                        nprobe: Int = 4, dim: Int = 64,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val knn = ivfTopK(emb, emb, k, nlist, nprobe, dim, idCol, vecCol,
        broadcastQueries = false)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(true)
    knn.as("f").join(knn.as("r"),
        col("f.query_id") === col("r.neighbor_id") &&
          col("f.neighbor_id") === col("r.query_id"))
      .filter(col("f.query_id") < col("f.neighbor_id"))
      .select(col("f.query_id").as("vec_a"),
        col("f.neighbor_id").as("vec_b"))
  }

  /**
   * Exact cosine top-k over the integer-QUANTIZED vectors — the ranking
   * a compressed serving tier actually produces, and the canonical
   * degraded candidate for [[rankingEval]]. Same quantization law as
   * [[quantizeInt8]] (per-vector scale `levels`/max|x|, round-to-int;
   * levels=127 is int8, 7 is int3/aggressive), but the codes stay an
   * integer array and the score is the cosine of the code vectors.
   * Every score input is an exact small integer, and dot/sqrt/divide
   * are correctly-rounded IEEE ops on exact values, so the ranking is
   * bit-identical across engines and partitionings — no micro-flooring
   * needed for determinism.
   *
   * Scale: identical shape to [[bruteForceTopK]] — corpus scan +
   * broadcast queries + per-query window; the corpus side never
   * shuffles. Emits (query_id, neighbor_id, rank).
   */
  def quantizedCosineTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                          levels: Int = 127, idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    require(levels >= 1, s"levels must be >= 1, got $levels")
    def codes(df: DataFrame, id: String, v: String): DataFrame =
      df.withColumn("__maxabs",
          expr(s"array_max(transform($vecCol, x -> abs(CAST(x AS DOUBLE))))"))
        .select(col(idCol).as(id),
          expr(s"""transform($vecCol, x -> CAST(CAST(round(CAST(x AS DOUBLE) *
                  |  (CASE WHEN __maxabs > 0 THEN $levels.0 / __maxabs
                  |        ELSE 0.0 END)) AS INT) AS DOUBLE))""".stripMargin)
            .as(v))
    val c = codes(corpus, "neighbor_id", "vc")
      .withColumn("nc", VectorFns.norm("vc"))
    val q = codes(queries, "query_id", "vq")
      .withColumn("nq", VectorFns.norm("vq"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        when(col("nq") > 0 && col("nc") > 0,
          VectorFns.dot("vq", "vc") / (col("nq") * col("nc")))
          .otherwise(lit(-2.0)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /** Integer nDCG discount in micro-units for 1-based rank `r`:
   * floor(1e6 / log2(r + 1)). Exposed so the oracle twin can inline the
   * SAME constants instead of re-deriving them with its own libm —
   * the discount table is the single source of float truth for
   * [[rankingEval]]; everything downstream of it is integer-exact. */
  def ndcgDiscountMicro(r: Int): Long = {
    require(r >= 1, s"rank must be >= 1, got $r")
    math.floor(1e6 / (math.log(r + 1.0) / math.log(2.0))).toLong
  }

  /**
   * Ranking-quality evaluation of a candidate top-k list against an
   * exact ground-truth top-k list (binary relevance: a candidate
   * neighbor is relevant iff it appears in the truth list) — the
   * standard eval harness for a quantized / IVF / PQ serving tier.
   * Emits per query, ordered metrics all integer-exact BIGINT:
   * (query_id, n_hits, mrr_micro, dcg_micro, idcg_micro,
   * ndcg_permille) where
   *  - mrr_micro  = 1e6 DIV (rank of first relevant candidate), 0 if none
   *  - dcg_micro  = Σ over relevant candidates of the micro discount
   *                 [[ndcgDiscountMicro]] at their CANDIDATE rank
   *  - idcg_micro = Σ of the first min(k, |truth list|) discounts — the
   *                 STANDARD ideal: every relevant item ranked first,
   *                 so a low-recall candidate scores low (an n_hits
   *                 normalizer would hand a 1-hit candidate a perfect
   *                 score)
   *  - ndcg_permille = dcg · 1000 DIV idcg (0 when nothing was found)
   * The float boundary is confined to the k-row discount table (shared
   * verbatim with the oracle); sums of BIGINT are associative, so the
   * result is partition-invariant and hash-checkable.
   *
   * Scale: truth and candidate are top-k frames (k rows per query —
   * output-bounded, tiny next to the corpus that produced them); one
   * hash join on (query, neighbor) + one per-query aggregate + a
   * broadcast k-row discount lookup. Queries with zero hits survive
   * via the left join from the truth side's query set.
   */
  def rankingEval(truth: DataFrame, candidate: DataFrame, k: Int,
                  queryCol: String = "query_id",
                  neighborCol: String = "neighbor_id",
                  rankCol: String = "rank"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = truth.sparkSession
    import spark.implicits._
    val disc = (1 to k).map(r => (r.toLong, ndcgDiscountMicro(r)))
      .toDF("__r", "__disc")
    val cum = (0 to k).map(m =>
        (m.toLong, (1 to m).map(ndcgDiscountMicro).sum))
      .toDF("__m", "__cum")
    val t = truth.filter(col(rankCol) <= k)
      .select(col(queryCol).as("query_id"), col(neighborCol).as("__n"))
    val cand = candidate.filter(col(rankCol) <= k)
      .select(col(queryCol).as("query_id"), col(neighborCol).as("__n"),
        col(rankCol).cast("long").as("__cr"))
    val hits = cand.join(t, Seq("query_id", "__n"))
      .join(broadcast(disc), col("__cr") === col("__r"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_hits"),
        min(col("__cr")).as("__first"),
        sum(col("__disc")).as("dcg_micro"))
    t.groupBy("query_id")
      .agg(least(count(lit(1)), lit(k.toLong)).as("__nrel"))
      .join(hits, Seq("query_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("mrr_micro",
        coalesce(expr("1000000 DIV __first"), lit(0L)))
      .withColumn("dcg_micro", coalesce(col("dcg_micro"), lit(0L)))
      .join(broadcast(cum), col("__nrel") === col("__m"))
      .withColumn("idcg_micro", col("__cum"))
      .withColumn("ndcg_permille",
        when(col("idcg_micro") > 0,
          expr("dcg_micro * 1000 DIV idcg_micro")).otherwise(lit(0L)))
      .select("query_id", "n_hits", "mrr_micro", "dcg_micro",
        "idcg_micro", "ndcg_permille")
  }
}
