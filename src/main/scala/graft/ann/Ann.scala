package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths, per the scale doctrine:
  *  - [[bruteTopK]]: exact cosine top-k. The join is blocked (queries ×
  *    corpus) — correct baseline, O(|Q|·|C|); use only when one side is
  *    small or as the verifier of the approximate path.
  *  - [[lshTopK]]: random-hyperplane sign buckets (deterministic LCG
  *    hyperplanes — reproducible anywhere, no RNG state), candidates only
  *    within matching buckets ± multi-probe, exact rerank inside buckets.
  *    At 100 TB the bucket join replaces the full cross product.
  *
  * All vector math is higher-order array functions (zip_with/aggregate) —
  * no UDFs, whole-stage codegen.
  */
object Ann {

  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Left-fold dot product — same summation order as the SQL oracle.
    * Native one-loop kernel ([[graft.functions.DotProductD]]); the HOF
    * form it replaces allocated a zipped array per evaluation and walked
    * it through interpreted lambdas — the dominant per-pair cost inside
    * every quadratic rerank/near-dup step (guide §4). IEEE-op-identical
    * (AnnSpec pins the parity against [[dotDeclarative]]).
    */
  def dot(a: Column, b: Column): Column = graft.functions.DotProductD(a, b)

  /** HOF twin of [[dot]] — kept ONLY as the parity-spec reference. */
  private[graft] def dotDeclarative(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)

  /** ‖a‖ via the same left fold: acc + x·x in index order (dot(a, a)). */
  def norm(a: Column): Column = sqrt(graft.functions.DotProductD(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * LCG over the flattened index, shifted to [-0.5, 0.5). Same closed form
    * generates the oracle SQL — no shared RNG state needed.
    */
  def planeComponent(plane: Int, dim: Column): Column = {
    // stride 2^20, not the vector width: with stride 64, plane p+1's
    // weight stream was plane p's shifted by 64 indices, so above 64 dims
    // consecutive hyperplanes shared almost every coefficient and sign
    // bits correlated (bucket collapse). 2^20 keeps planes disjoint for
    // any realistic dim; idx*a stays < 2^57, ANSI-safe.
    val idx = lit(plane.toLong * 1048576L) + dim
    (pmod(idx * 1103515245L + 12345L, lit(1L << 31)).cast("double") /
      lit((1L << 31).toDouble)) - 0.5
  }

  /** Sign-bucket key: bit p = 1 iff dot(v, plane_p) > 0. Native one-pass
    * kernel ([[graft.functions.SignBucketD]]) — the HOF twin below is
    * KernelParitySpec's reference (identical LCG planes and fold order).
    */
  def signBucket(v: Column, planes: Int): Column =
    graft.functions.SignBucketD(v, planes)

  private[graft] def signBucketDeclarative(v: Column, planes: Int): Column =
    (0 until planes).map { p =>
      val d = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1),
          (x, i) => x * planeComponent(p, i.cast("long"))),
        lit(0.0), _ + _)
      when(d > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Exact cosine top-k: for each query row, the k nearest corpus rows.
    * Ties broken by corpus id for full determinism; scores rounded before
    * ranking so cross-engine float noise cannot flip the order.
    */
  /** `excludeSelf` (default true, all topK variants): drop candidates with
    * `cid == qid` — correct when queries ARE corpus rows (self-join dedup,
    * leave-one-out eval). For CROSS-TABLE retrieval where id spaces are
    * unrelated, pass false: otherwise corpus row i silently vanishes from
    * query i's candidates. Ids must be non-null (null ids never match any
    * filter and would vanish without error).
    */
  def bruteTopK(
      queries: DataFrame, // (qid, vec)
      corpus: DataFrame, // (cid, vec)
      k: Int,
      roundTo: Int = 6,
      excludeSelf: Boolean = true
  ): DataFrame = {
    // norms precomputed ONCE per row (not once per pair): cos(a,b) =
    // dot/(na*nb) with na/nb the identical norm subexpressions evaluated
    // before the quadratic step — bit-identical output, O(rows) instead of
    // O(pairs) norm folds (guide §2.3: shuffle/compute the light proxy)
    val q = queries.select(col("qid"), toDouble(col("vec")).as("qv"))
      .withColumn("__qn", norm(col("qv")))
    val c = corpus.select(col("cid"), toDouble(col("vec")).as("cv"))
      .withColumn("__cn", norm(col("cv")))
    val scored = q.crossJoin(c)
      .where(if (excludeSelf) col("qid") =!= col("cid") else lit(true))
      .select(col("qid"), col("cid"),
        round(dot(col("qv"), col("cv")) / (col("__qn") * col("__cn")),
          roundTo).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** LSH-bucketed approximate top-k: candidates share a sign-bucket with the
    * query (plus optional multi-probe), exact cosine rerank within
    * candidates.
    *
    * @param probes number of 1-bit-flip probe buckets per query (0 = exact
    *               bucket only). Probing the `probes` nearest buckets
    *               recovers neighbors that fall across a single hyperplane —
    *               recall improves at the cost of `probes+1`× candidate
    *               fan-out, still never a cross product. Probe keys are
    *               distinct by construction (bkey ^ 2^p), so a candidate can
    *               match at most one probe — no dedup pass needed.
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      planes: Int = 6,
      roundTo: Int = 6,
      probes: Int = 0,
      excludeSelf: Boolean = true
  ): DataFrame = {
    require(probes <= planes, "cannot probe more bits than planes")
    val q0 = queries.select(col("qid"), toDouble(col("vec")).as("qv"))
      .withColumn("__qn", norm(col("qv")))
      .withColumn("bkey", signBucket(col("qv"), planes))
    val q =
      if (probes <= 0) q0
      else q0.select(col("qid"), col("qv"), col("__qn"),
        explode(array((col("bkey") +: (0 until probes).map(p =>
          col("bkey").bitwiseXOR(lit(1L << p)))): _*)).as("bkey"))
    // per-row (not per-pair) norms, as in bruteTopK — value-identical
    val c = corpus.select(col("cid"), toDouble(col("vec")).as("cv"))
      .withColumn("__cn", norm(col("cv")))
      .withColumn("bkey", signBucket(col("cv"), planes))
    val scored = q.join(c, Seq("bkey"))
      .where(if (excludeSelf) col("qid") =!= col("cid") else lit(true))
      .select(col("qid"), col("cid"),
        round(dot(col("qv"), col("cv")) / (col("__qn") * col("__cn")),
          roundTo).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** IVF (inverted-file) coarse quantizer: `nCentroids` centroids trained by
    * a fixed number of Lloyd iterations, seeded deterministically (initial
    * centroids = the corpus rows with the `nCentroids` smallest
    * pmod(id·LCG) draws — no RNG state, same result at any parallelism).
    * Each iteration is ONE crossJoin-free pass: corpus × centroid
    * assignment uses a broadcast centroid array (driver-held, tiny) and a
    * groupBy mean — the standard scalable shape.
    */
  final case class IvfModel(centroids: Array[Array[Double]]) {
    def nList: Int = centroids.length
  }

  def ivfTrain(
      corpus: DataFrame, // (cid, vec)
      nCentroids: Int,
      iterations: Int = 5
  ): IvfModel = {
    val c = corpus.select(col("cid"), toDouble(col("vec")).as("cv"))
    // bound the id BEFORE the LCG multiply: raw cid·1103515245 overflows a
    // long under ANSI once ids pass ~8e9
    val seeded = c
      .withColumn("__draw", pmod(
        pmod(col("cid"), lit(2147483647L)) * 1103515245L + 12345L, lit(1L << 31)))
      .orderBy(col("__draw"), col("cid"))
      .limit(nCentroids)
      .select(col("cv"))
    var centroids = seeded.collect().map(_.getSeq[Double](0).toArray)
    // fail loudly like pqTrain: silently training fewer lists than asked
    // violates the caller's bucket-sizing math (|corpus|/nList per bucket)
    require(centroids.length == nCentroids,
      s"corpus has ${centroids.length} rows < nCentroids=$nCentroids")
    var it = 0
    while (it < iterations) {
      it += 1
      val assigned = assignCentroid(c, centroids)
      val means = assigned
        .select(col("__list"), posexplode(col("cv")).as(Seq("__pos", "__x")))
        .groupBy(col("__list"), col("__pos"))
        .agg(avg(col("__x")).as("__m"))
        .groupBy(col("__list"))
        .agg(map_from_entries(collect_list(struct(col("__pos"), col("__m"))))
          .as("__mm"))
        .collect()
      val next = centroids.clone()
      means.foreach { r =>
        val li = r.getInt(0)
        val mm = r.getMap[Int, Double](1)
        next(li) = Array.tabulate(centroids(li).length)(i => mm(i))
      }
      centroids = next
    }
    IvfModel(centroids)
  }

  /** Past this many centroids, assignment/probing switches from literal
    * subexpressions to the [[graft.functions.NearestCentroids]] reference-
    * object kernel: the literal plan is O(nList·dim) expression NODES and
    * Catalyst analysis/codegen blows up at the list counts a real corpus
    * needs (4k-64k); the kernel's plan size is constant at any nList.
    * Both paths are IEEE-op-identical (AnnParitySpec pins it).
    */
  private[graft] val literalMaxCentroids = 16

  /** Nearest-centroid assignment — no shuffle, no join, no UDF: a single
    * projection either over centroid literals (small nList; fully
    * codegen-inlined) or over the constant-plan-size native kernel.
    */
  private def assignCentroid(df: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    require(centroids.length >= 2, "IVF needs at least two centroids")
    if (centroids.length <= literalMaxCentroids) assignCentroidLiteral(df, centroids)
    else df.withColumn("__list",
      element_at(
        graft.functions.NearestCentroids(col("cv"), centroids, 1, tieLargerIdx = false),
        1))
  }

  /** Literal-expression assignment (the small-nList fast path; also the
    * parity reference for the native kernel).
    */
  private[graft] def assignCentroidLiteral(
      df: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    val sims = centroids.map { ctr =>
      val carr = array(ctr.map(lit(_)): _*)
      dot(col("cv"), carr) / (norm(col("cv")) * lit(math.sqrt(ctr.map(x => x * x).sum)))
    }
    val best = sims.zipWithIndex.map { case (s, i) =>
      struct(s.as("s"), lit(-i).as("ni"))
    }
    df.withColumn("__list", (-greatest(best: _*).getField("ni")).cast("int"))
  }

  /** Per-query probe lists (nProbe nearest centroids, ties → larger id,
    * matching `reverse(array_sort(...))` of the literal path) as an
    * array<int> column.
    */
  private[graft] def probeListsLiteral(
      qv: Column, centroids: Array[Array[Double]], nProbe: Int): Column = {
    val sims = centroids.zipWithIndex.map { case (ctr, i) =>
      val carr = array(ctr.map(lit(_)): _*)
      struct((dot(qv, carr) /
        (norm(qv) * lit(math.sqrt(ctr.map(x => x * x).sum)))).as("s"),
        lit(i).as("li"))
    }
    transform(slice(reverse(array_sort(array(sims: _*))), 1, nProbe),
      p => p.getField("li"))
  }

  private def probeLists(
      qv: Column, centroids: Array[Array[Double]], nProbe: Int): Column =
    if (centroids.length <= literalMaxCentroids)
      probeListsLiteral(qv, centroids, nProbe)
    else
      graft.functions.NearestCentroids(qv, centroids, nProbe, tieLargerIdx = true)

  /** Public nearest-centroid assignment over a (cid, vec) frame — the
    * bucketing step consumers like [[graft.text.Dedup.semanticDedup]]
    * compose with; returns (cid, cv, __list).
    */
  def assign(corpus: DataFrame, model: IvfModel): DataFrame =
    assignCentroid(
      corpus.select(col("cid"), toDouble(col("vec")).as("cv")), model.centroids)

  /** IVF top-k: corpus rows are bucketed by nearest centroid (the inverted
    * lists); each query probes only its `nProbe` nearest lists and reranks
    * exactly inside them. Candidate fan-out is |corpus|·nProbe/nList — the
    * classic IVF trade — and the probe join stays a hash equi-join on the
    * list id.
    */
  def ivfTopK(
      queries: DataFrame, // (qid, vec)
      corpus: DataFrame, // (cid, vec)
      model: IvfModel,
      k: Int,
      nProbe: Int = 2,
      roundTo: Int = 6,
      excludeSelf: Boolean = true
  ): DataFrame = {
    val c = assignCentroid(
      corpus.select(col("cid"), toDouble(col("vec")).as("cv")), model.centroids)
      .withColumn("__cn", norm(col("cv")))
    val q0 = queries.select(col("qid"), toDouble(col("vec")).as("qv"))
      .withColumn("__qn", norm(col("qv")))
    val q = q0.withColumn("__list",
      explode(probeLists(col("qv"), model.centroids, nProbe)))
    // per-row (not per-pair) norms, as in bruteTopK — value-identical
    val scored = q.join(c, Seq("__list"))
      .where(if (excludeSelf) col("qid") =!= col("cid") else lit(true))
      .select(col("qid"), col("cid"),
        round(dot(col("qv"), col("cv")) / (col("__qn") * col("__cn")),
          roundTo).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("cid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  // ----------------------------------------------------------------------
  // Product quantization (the FAISS IVFPQ shape, by_residual=false)
  // ----------------------------------------------------------------------

  /** PQ codebook: `books(j)(i)` is codeword i of subspace j (dsub doubles).
    * At 100 TB scale this is the memory story for ANN: a 64-dim float
    * vector (256 B) compresses to m code bytes (m=4 → 64× smaller), so the
    * inverted lists the probe join scans carry codes, not vectors, and the
    * exact vectors never shuffle. Distances against codes are looked up
    * from a per-query LUT — O(m) per candidate instead of O(dim).
    */
  final case class PqModel(books: Array[Array[Array[Double]]]) {
    def m: Int = books.length
    def nCodes: Int = books(0).length
    def dsub: Int = books(0)(0).length
  }

  /** Past this many total codewords (m·nCodes) the encode/LUT switch from
    * literal subexpressions to the [[graft.functions.PqCodes]] /
    * [[graft.functions.PqLut]] reference-object kernels — same constant-
    * plan-size doctrine as [[literalMaxCentroids]]. Production PQ is
    * m=8..64 × nCodes=256: always the kernel path.
    */
  private[graft] val literalMaxCodewords = 64

  /** Deterministic sampling quantizer for PQ, sharing the IVF seeding rule:
    * the codewords of every subspace come from the `nCodes` corpus rows
    * with the smallest pmod(id·LCG) draw, sliced into m contiguous
    * subvectors. iterations=0 is the exactly-oracle-able path (the SQL twin
    * replays the same integer draws); iterations>0 runs per-subspace Lloyd
    * refinement (one distributed pass per iteration, means collected
    * driver-side — codebooks are m·nCodes·dsub doubles, driver-sized by
    * construction).
    */
  def pqTrain(
      corpus: DataFrame, // (cid, vec)
      m: Int,
      nCodes: Int,
      iterations: Int = 0
  ): PqModel = {
    val c = corpus.select(col("cid"), toDouble(col("vec")).as("cv"))
    val seeded = c
      .withColumn("__draw", pmod(
        pmod(col("cid"), lit(2147483647L)) * 1103515245L + 12345L, lit(1L << 31)))
      .orderBy(col("__draw"), col("cid"))
      .limit(nCodes)
      .select(col("cv"))
    val rows = seeded.collect().map(_.getSeq[Double](0).toArray)
    require(rows.length == nCodes, s"corpus smaller than nCodes=$nCodes")
    val dim = rows(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => rows.map(_.slice(j * dsub, (j + 1) * dsub)))
    var it = 0
    while (it < iterations) {
      it += 1
      val enc = pqEncode(c, PqModel(books))
      // per (subspace, code, pos) mean of the raw subvector component
      val means = enc
        .select(explode(sequence(lit(0), lit(m - 1))).as("__j"),
          col("__codes"), col("cv"))
        .select(col("__j"),
          element_at(col("__codes"), col("__j") + 1).as("__code"),
          posexplode(slice(col("cv"), col("__j") * dsub + 1, lit(dsub)))
            .as(Seq("__pos", "__x")))
        .groupBy(col("__j"), col("__code"), col("__pos"))
        .agg(avg(col("__x")).as("__mn"))
        .collect()
      val next = books.map(_.map(_.clone()))
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
      }
      books = next
    }
    PqModel(books)
  }

  /** Ascending-fold L2 distance between a sliced subvector and a literal
    * codeword — the parity reference for the kernel's loop order.
    */
  private def l2Literal(sub: Column, cw: Array[Double]): Column =
    aggregate(
      zip_with(sub, array(cw.map(lit(_)): _*), (x, c) => (x - c) * (x - c)),
      lit(0.0), _ + _)

  /** Literal-expression PQ encode (small codebooks; parity reference). */
  private[graft] def pqEncodeLiteral(df: DataFrame, model: PqModel): DataFrame = {
    val codes = (0 until model.m).map { j =>
      val sub = slice(col("cv"), j * model.dsub + 1, model.dsub)
      // argmin distance, ties → smaller code index: least by (d asc, i asc)
      val cands = model.books(j).zipWithIndex.map { case (cw, i) =>
        struct(l2Literal(sub, cw).as("d"), lit(i).as("i"))
      }
      least(cands: _*).getField("i")
    }
    df.withColumn("__codes", array(codes: _*))
  }

  /** PQ encode: adds `__codes` (array<int>, one code per subspace) to a
    * frame with a `cv` array<double> column. Pure projection — no shuffle,
    * no join; kernel path keeps the plan constant-size at any codebook.
    */
  def pqEncode(df: DataFrame, model: PqModel): DataFrame =
    if (model.m * model.nCodes <= literalMaxCodewords) pqEncodeLiteral(df, model)
    else df.withColumn("__codes", graft.functions.PqCodes(col("cv"), model.books))

  /** Literal flat ADC LUT (ascending (j, i) layout — entry j·nCodes+i). */
  private[graft] def pqLutLiteral(qv: Column, model: PqModel): Column =
    array((for {
      j <- 0 until model.m
      (cw, _) <- model.books(j).zipWithIndex
    } yield l2Literal(slice(qv, j * model.dsub + 1, model.dsub), cw)): _*)

  private def pqLut(qv: Column, model: PqModel): Column =
    if (model.m * model.nCodes <= literalMaxCodewords) pqLutLiteral(qv, model)
    else graft.functions.PqLut(qv, model.books)

  /** IVF-PQ top-k: corpus rows are bucketed by coarse centroid and carry
    * only their m PQ codes through the probe join; each query probes its
    * `nProbe` nearest coarse lists and scores candidates by ADC — the sum
    * over subspaces of LUT[j·nCodes + code_j], m lookups per candidate.
    * Asymmetric distance on RAW vectors (FAISS `by_residual=false`): the
    * query side is exact, only the corpus side is quantized — chosen over
    * residual encoding because every arithmetic step stays replayable in
    * ANSI SQL, which keeps the whole operator oracle-verifiable.
    * Smaller ADC distance = nearer; ties → smaller cid.
    */
  def ivfPqTopK(
      queries: DataFrame, // (qid, vec)
      corpus: DataFrame, // (cid, vec)
      coarse: IvfModel,
      pq: PqModel,
      k: Int,
      nProbe: Int = 2,
      roundTo: Int = 6,
      excludeSelf: Boolean = true
  ): DataFrame = {
    val c = pqEncode(
      assignCentroid(
        corpus.select(col("cid"), toDouble(col("vec")).as("cv")), coarse.centroids),
      pq)
      .select(col("cid"), col("__list"), col("__codes"))
    val q = queries.select(col("qid"), toDouble(col("vec")).as("qv"))
      .withColumn("__lut", pqLut(col("qv"), pq))
      .withColumn("__list", explode(probeLists(col("qv"), coarse.centroids, nProbe)))
      .select(col("qid"), col("__lut"), col("__list"))
    val adc = (0 until pq.m).map { j =>
      element_at(col("__lut"),
        (lit(j * pq.nCodes) + element_at(col("__codes"), j + 1) + 1).cast("int"))
    }.reduce(_ + _)
    val scored = q.join(c, Seq("__list"))
      .where(if (excludeSelf) col("qid") =!= col("cid") else lit(true))
      .select(col("qid"), col("cid"), round(adc, roundTo).as("adc"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adc").asc, col("cid").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }
}
