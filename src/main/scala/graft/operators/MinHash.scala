package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column => toCol, expression => toExpr}
import org.apache.spark.storage.StorageLevel

import graft.functions.expressions.{MinHashSignature, PolyHash, SimHash64}

/** MinHash-LSH near-duplicate detection and SimHash fingerprinting —
  * the scale path for corpus dedup (north-star extension; no reference
  * analog — its similarity primitive is vector L2,
  * `/root/reference/src/lib.rs:28-30`).
  *
  * Pipeline: shingle → polynomial hash → K minhashes → band buckets →
  * bucket-equi-join for candidates → exact Jaccard verify. Only
  * documents sharing a band key are ever paired, so the join cost
  * follows bucket occupancy, not corpus²; at 100 TB the band table is
  * the only shuffle and hot buckets are bounded by band width. All
  * hashing is plain integer arithmetic (no engine-specific hash
  * builtin), which keeps every stage expressible in the DuckDB oracle.
  *
  * Production note: the signature table is computed once and reused by
  * the band explode and both sides of the verify join — at scale,
  * persist it (checkpoint / write-out) instead of recomputing.
  */
object MinHash {

  val Prime = 2147483647L // 2^31 - 1
  val HashP = 1000000007L
  val K = 16 // signature length
  val Bands = 4 // 4 bands x 4 rows

  /** Fixed, arbitrary (a, b) params for the K universal hashes. */
  val Params: Seq[(Long, Long)] = (0 until K).map(j => (1000L + 7L * j, 12345L + 101L * j))

  /** Polynomial rolling hash of a string column (same fold as
    * TextFunctions.fingerprint, applied per shingle) — native one-pass
    * codegen over the string bytes (== the oracle's per-char fold on
    * ASCII corpora). */
  def polyHash(s: Column): Column = toCol(PolyHash(toExpr(s), HashP))

  /** K-element minhash signature from an array of shingle hashes —
    * native single pass over the hash array for all K functions. */
  def signature(hs: Column): Column =
    toCol(MinHashSignature(toExpr(hs),
      Params.map(_._1).toArray, Params.map(_._2).toArray, Prime))

  /** 64-bit SimHash (as `[hi, lo]` 32-bit words) from an array of
    * shingle hashes: per-bit majority vote over the remixed hash
    * population, one native pass. */
  def simHash(hs: Column): Column = toCol(SimHash64(toExpr(hs)))

  /** Optimal LSH band plan (Leskovec-Rajaraman-Ullman §3.4): among the
    * divisor splits b·r = nHashes, pick the (bands, rows) whose
    * banded-OR collision curve 1 − (1 − s^r)^b best separates pairs
    * around the Jaccard threshold `tau` — minimizing the false-
    * positive mass below tau plus the false-negative mass above it
    * (uniform-s integrals, the textbook objective; `fnWeight` skews
    * the trade toward recall when misses cost more than verification,
    * the usual dedup posture since FPs die in the exact-verify
    * stage). Driver-side arithmetic over O(divisors × grid) — a
    * planning utility, not a query stage; deterministic (fixed
    * 1e-3-step midpoint grid). Returns (bands, rows, fpMass, fnMass).
    *
    * This is the tool that says when the fixed 4×4 default
    * ([[Bands]]×[[K]]/[[Bands]]) stops being right: at tau = 0.8 with
    * 16 hashes, equal weighting picks the late-rising 2×8 curve
    * (minimal FP mass) while the recall-leaning fnWeight = 3 lands on
    * the shipped 4×4 (s-curve midpoint (1/4)^(1/4) ≈ 0.707 — cheap
    * insurance below the threshold) — both pinned in the spec. */
  def planBands(nHashes: Int, tau: Double, fnWeight: Double = 1.0): (Int, Int, Double, Double) = {
    require(nHashes >= 1, s"nHashes must be >= 1, got $nHashes")
    require(tau > 0.0 && tau < 1.0, s"tau must be in (0, 1), got $tau")
    require(fnWeight > 0.0, s"fnWeight must be > 0, got $fnWeight")
    val splits = (1 to nHashes).filter(nHashes % _ == 0).map(b => (b, nHashes / b))
    val step = 1e-3
    def collide(s: Double, b: Int, r: Int): Double =
      1.0 - math.pow(1.0 - math.pow(s, r), b)
    val scored = splits.map { case (b, r) =>
      var fp = 0.0
      var fn = 0.0
      var s = step / 2
      while (s < 1.0) {
        val p = collide(s, b, r)
        if (s < tau) fp += p * step else fn += (1.0 - p) * step
        s += step
      }
      (fp + fnWeight * fn, b, r, fp, fn)
    }
    // deterministic tiebreak: fewer bands (cheaper index) first
    val best = scored.minBy(t => (t._1, t._2))
    (best._2, best._3, best._4, best._5)
  }


  /** Docs -> (id, sh, n_sh, hs): distinct shingles and their hashes. */
  private def shingled(docs: DataFrame, n: Int, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"), Dedup.shingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), col("sh"), size(col("sh")).as("n_sh"),
        transform(col("sh"), s => polyHash(s)).as("hs"))

  /** (id, bkey) band-key rows from a (id, ..., sig) signature table —
    * the banded OR-of-ANDs blocking key shared by the self-join and
    * the incremental (batch-vs-corpus) arms. */
  private def bandKeys(sig: DataFrame): DataFrame = {
    val rows = K / Bands
    val bandCols = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", slice(col("sig"), b * rows + 1, rows).cast("array<string>")).as("bsig"))
    }
    sig.select(col("id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), concat(col("bk.band").cast("string"), lit(":"), col("bk.bsig")).as("bkey"))
  }

  /** The banded candidate pair set (a < b, distinct) from a signature
    * table — ONE definition feeding [[lshDedup]] AND [[estimatePairs]],
    * so the calibration census can never drift from the dedup path it
    * calibrates. */
  private def bandedCandidates(sig: DataFrame): DataFrame = {
    val bands = bandKeys(sig)
    bands.as("x")
      .join(bands.as("y"), col("x.bkey") === col("y.bkey") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
  }

  /** LSH candidate pairs + exact Jaccard verification: every output
    * pair shares at least one of the `Bands` band keys AND has true
    * shingle Jaccard >= tau. */
  def lshDedup(
      docs: DataFrame,
      tau: Double,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // materialize the shingle+hash table once: the band explode and both
    // sides of the verify join all branch from it (without this, the
    // shingling subtree executes up to 4x)
    val base = shingled(docs, n, idCol, textCol).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val sig = base.select(col("id"), col("sh"), col("n_sh"), signature(col("hs")).as("sig"))
      val cand = bandedCandidates(sig)

      val sets = base.select(col("id"), col("sh"), col("n_sh"))
      cand
        .join(sets.select(col("id").as("a"), col("sh").as("sha"), col("n_sh").as("na")), "a")
        .join(sets.select(col("id").as("b"), col("sh").as("shb"), col("n_sh").as("nb")), "b")
        .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
        .withColumn("jac", col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
        .filter(col("jac") >= tau)
        .select(col("a"), col("b"), col("jac"))
        // materialize before releasing the shingle cache, as in
        // estimatePairs: a session that dedups many shards must not
        // keep every shard's table
        .localCheckpoint()
    } finally base.unpersist(blocking = false)
  }

  /** Banded candidates with the signature-agreement Jaccard ESTIMATE
    * beside the exact value — the calibration view of the identity
    * the whole MinHash-LSH stack rests on (Broder '97:
    * P[minhash agrees] = J, so ĵ = matching positions / K is an
    * unbiased K-sample estimate with s.e. √(J(1−J)/K)). A pipeline
    * tunes band plans ([[planBands]]) and thresholds against ĵ; this
    * is the census that shows what K buys on real candidates — no tau
    * filter, so the low-similarity band-collision tail is visible
    * too.
    *
    * Scale shape: identical to [[lshDedup]]'s (banded equi-join
    * candidates, never all-pairs; per-pair work is one K-element
    * zip + one bounded intersect on the candidate set). */
  def estimatePairs(
      docs: DataFrame,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val base = shingled(docs, n, idCol, textCol).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val sig = base.select(col("id"), col("sh"), col("n_sh"), signature(col("hs")).as("sig"))
      val cand = bandedCandidates(sig)
      val side = sig.select(col("id"), col("sh"), col("n_sh"), col("sig"))
      cand
        .join(side.select(col("id").as("a"), col("sh").as("sha"),
          col("n_sh").as("na"), col("sig").as("siga")), "a")
        .join(side.select(col("id").as("b"), col("sh").as("shb"),
          col("n_sh").as("nb"), col("sig").as("sigb")), "b")
        .withColumn("match_k",
          size(filter(zip_with(col("siga"), col("sigb"), (x, y) => x === y), b => b)))
        .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
        .select(col("a"), col("b"), col("match_k").cast("int").as("match_k"),
          (col("match_k").cast("double") / K).as("j_est"),
          (col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")).cast("double")).as("jac"))
        // materialize before releasing the shingle cache (the
        // containmentJoin convention): a long-lived session invoking
        // this repeatedly must not accumulate cached partitions
        .localCheckpoint()
    } finally base.unpersist(blocking = false)
  }

  /** LSH detector QUALITY census — measured recall and precision of
    * the banded MinHash blocking against EXACT ground truth, the
    * falsifiable number the whole dedup family rests on (the way
    * RecallSpec floors the ANN gates): Broder's collision identity
    * says a K=16/4×4-band plan catches a Jaccard-τ pair with
    * probability 1−(1−s⁴)⁴ — this census says what it ACTUALLY
    * catches on this corpus, before anyone trusts the dedup rate.
    *
    * Ground truth is [[Dedup.jaccardJoin]] — the prefix-filtered
    * ALL-QUALIFYING-pairs join, exact by the prefix theorem (its own
    * spec pins naive equality) — so `n_true` is every pair at
    * jac ≥ τ, blocked or not. Candidates and their exact Jaccard come
    * from [[estimatePairs]], which shares [[bandedCandidates]] with
    * [[lshDedup]] BY CONSTRUCTION, so the census can never drift from
    * the detector it grades. Hits are candidates at jac ≥ τ counted
    * through a semi-join against the truth set (membership measured,
    * not assumed). One row: n_true, n_cand, n_hit, recall_ppm
    * (floor(n_hit·10⁶/n_true); vacuously 10⁶ when no true pair
    * exists), precision_ppm (n_hit/n_cand — the verify-work yield;
    * vacuously 10⁶ on an empty candidate set). All-integer.
    *
    * Scale shape: both inputs keep their own bounded-candidate
    * contracts (banded equi-joins, never all-pairs); everything after
    * is three 1-row counts crossJoined. The census costs roughly one
    * dedup run plus one exact join — run it on a SAMPLE SHARD at
    * 100 TB (recall is a property of the band plan and the similarity
    * distribution, not of the corpus size). */
  def lshQuality(docs: DataFrame, tau: Double, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val cand = estimatePairs(docs, n, idCol, textCol)
      .select(col("a"), col("b"), col("jac"))
    val truth = Dedup.jaccardJoin(docs, tau, n, idCol, textCol)
      .select(col("a"), col("b"))
      .localCheckpoint() // two consumers: the count and the semi-join
    val hits = cand.filter(col("jac") >= tau)
      .join(truth, Seq("a", "b"), "left_semi")
    val tN = truth.agg(count(lit(1)).as("n_true"))
    val cN = cand.agg(count(lit(1)).as("n_cand"))
    val hN = hits.agg(count(lit(1)).as("n_hit"))
    tN.crossJoin(cN).crossJoin(hN)
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        when(col("n_true") === 0L, lit(1000000L))
          .otherwise(expr("(n_hit * 1000000) div n_true")).as("recall_ppm"),
        when(col("n_cand") === 0L, lit(1000000L))
          .otherwise(expr("(n_hit * 1000000) div n_cand")).as("precision_ppm"))
  }

  /** SimHash detector QUALITY census — [[lshQuality]]'s twin for the
    * OTHER blocking family: what fraction of true Jaccard-τ pairs
    * does the banded 64-bit SimHash screen (8×8-bit bands, Hamming ≤
    * `maxHamming` verify) actually catch, and how many of its kept
    * pairs are true? Unlike MinHash bands, SimHash's Hamming radius
    * is NOT a Jaccard threshold — the mapping depends on the shingle
    * distribution — which is precisely why the number must be
    * MEASURED before a pipeline trusts a Hamming cut as a dedup
    * criterion. Ground truth is the same exact
    * [[Dedup.jaccardJoin]]; candidates are [[simHashPairs]]' kept
    * set (banded + Hamming-verified, the q_dedup_simhash_pairs
    * detector unchanged). One row: n_true, n_kept, n_hit,
    * recall_ppm, precision_ppm (vacuous-10⁶ conventions on empty
    * denominators). Same sample-shard scale contract as
    * [[lshQuality]]. */
  def simHashQuality(docs: DataFrame, tau: Double, maxHamming: Int = 6,
      n: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val kept = simHashPairs(docs, maxHamming, n, idCol, textCol)
      .select(col("a"), col("b"))
      .localCheckpoint() // two consumers: the count and the semi-join
    val truth = Dedup.jaccardJoin(docs, tau, n, idCol, textCol)
      .select(col("a"), col("b"))
      .localCheckpoint()
    val hits = kept.join(truth, Seq("a", "b"), "left_semi")
    val tN = truth.agg(count(lit(1)).as("n_true"))
    val kN = kept.agg(count(lit(1)).as("n_kept"))
    val hN = hits.agg(count(lit(1)).as("n_hit"))
    tN.crossJoin(kN).crossJoin(hN)
      .select(col("n_true"), col("n_kept"), col("n_hit"),
        when(col("n_true") === 0L, lit(1000000L))
          .otherwise(expr("(n_hit * 1000000) div n_true")).as("recall_ppm"),
        when(col("n_kept") === 0L, lit(1000000L))
          .otherwise(expr("(n_hit * 1000000) div n_kept")).as("precision_ppm"))
  }

  /** Incremental (batch-vs-corpus) LSH dedup — the shape a daily
    * ingest actually runs: screen the NEW batch against the existing
    * corpus without ever re-joining the corpus to itself. Emits
    * `(a, b, jac)` where `a` is a batch id, `b` a corpus id, the two
    * share at least one of the `Bands` band keys, and true shingle
    * Jaccard >= tau.
    *
    * Scale shape: the corpus side is touched exactly TWICE, both times
    * linearly — one scan to band its signatures (at steady state a
    * store persists these, making the scan incremental too) and one
    * semi-bounded verify re-read of candidate ids; the candidate join
    * is batch-bands x corpus-bands on the band key, so its output is
    * O(|batch| x collisions), never O(|corpus|^2). AQE broadcasts the
    * banded batch when it is small (the common case: a few GB of new
    * docs against a 100 TB corpus => corpus bands stream map-side
    * against a broadcast batch table, NO corpus shuffle). Self-pairs
    * are excluded by id inequality, not assumed disjoint. */
  def lshDedupIncremental(
      batch: DataFrame,
      corpus: DataFrame,
      tau: Double,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // spread both corpora before the shingle+hash pass: the persists
    // materialize the whole per-row map cost up front, and a single
    // input file otherwise runs each on one task (2×1.3 s at sf0.1 —
    // the two biggest jobs of the gate). Only THIS arm spreads: the
    // self-join family's smaller passes measured faster unspread (the
    // A/B is in OPTIMIZATION_r17.md)
    // widths from each side's leaf bytes, core-count floor (Spread):
    // the batch is small, the corpus is the 100 TB side — each gets a
    // data-proportional width instead of the shared core count
    val bBase = shingled(batch.repartition(graft.Spread.count(batch), col(idCol)),
        n, idCol, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cBase = shingled(corpus.repartition(graft.Spread.count(corpus), col(idCol)),
        n, idCol, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      def sigOf(df: DataFrame) =
        df.select(col("id"), signature(col("hs")).as("sig"))
      val cand = bandKeys(sigOf(bBase)).withColumnRenamed("id", "a").as("x")
        .join(bandKeys(sigOf(cBase)).withColumnRenamed("id", "b").as("y"),
          col("x.bkey") === col("y.bkey") && col("a") =!= col("b"))
        .select(col("a"), col("b"))
        .distinct()
      cand
        .join(bBase.select(col("id").as("a"), col("sh").as("sha"), col("n_sh").as("na")), "a")
        .join(cBase.select(col("id").as("b"), col("sh").as("shb"), col("n_sh").as("nb")), "b")
        .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
        .withColumn("jac", col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
        .filter(col("jac") >= tau)
        .select(col("a"), col("b"), col("jac"))
        // materialize before releasing both shingle caches (the
        // containmentJoin convention — repeated daily-ingest calls in
        // one session must not accumulate cached partitions)
        .localCheckpoint()
    } finally {
      bBase.unpersist(blocking = false)
      cBase.unpersist(blocking = false)
    }
  }

  /** Per-document 64-bit SimHash fingerprints as two 32-bit words. */
  def simHashTable(
      docs: DataFrame,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    shingled(docs, n, idCol, textCol)
      .select(col("id").as(idCol), simHash(col("hs")).as("sim"))
      .select(col(idCol), col("sim")(0).as("sim_hi"), col("sim")(1).as("sim_lo"))

  /** SimHash near-dup pairs with Hamming distance <= maxHamming over
    * the 64-bit fingerprint, found by 8x8-bit banding (the Manku et al.
    * WWW'07 block structure): if two 64-bit fingerprints differ in at
    * most 7 bits, at least one 8-bit band is identical (pigeonhole), so
    * the band-bucket equi-join finds EVERY qualifying pair — exact for
    * maxHamming <= 7, never all-pairs. Per band a random pair collides
    * with probability ~2^-8 (vs 2^-4 for 4-bit bands on a 32-bit hash),
    * so the candidate set is ~16x smaller per corpus-size doubling
    * headroom; at larger n, widen bands (4x16-bit: hamming <= 3) to
    * push collisions to 2^-16. */
  def simHashPairs(
      docs: DataFrame,
      maxHamming: Int = 6,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(maxHamming <= 7, "8x8-bit banding guarantees recall only for hamming <= 7")
    val sh = simHashTable(docs, n, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandCols = (0 until 8).map { b =>
      val word = if (b < 4) col("sim_lo") else col("sim_hi")
      val shift = if (b < 4) 8 * b else 8 * (b - 4)
      struct(lit(b).as("band"), shiftright(word, shift).bitwiseAND(255L).as("v"))
    }
    val bands = sh.select(col(idCol).as("id"), col("sim_hi"), col("sim_lo"),
        explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("sim_hi"), col("sim_lo"), col("bk.band"), col("bk.v"))
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.v") === col("y.v") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        (bit_count(col("x.sim_hi").bitwiseXOR(col("y.sim_hi"))) +
          bit_count(col("x.sim_lo").bitwiseXOR(col("y.sim_lo")))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
