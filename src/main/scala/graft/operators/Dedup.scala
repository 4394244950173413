package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large text corpora (SURVEY.md §2.8 D1/D2 and
  * the north-star dedup suite): exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design: every variant is shuffle-partitioned by a hash/bucket key —
  * content hash, LSH band signature, or shingle — so no stage ever holds
  * per-corpus state on one node. Candidate generation is always
  * bucket-local; only candidate pairs (a vanishing fraction of n²) reach the
  * verification join.
  */
object Dedup {

  /** Staged shingle frames — the slot discipline now lives in [[Staged]]
    * (round-17: Curation and the loop operators need the same lifecycle);
    * kept as a local alias because every staged frame here cites it.
    */
  private def stage(slot: String, df: DataFrame): DataFrame =
    Staged.stage(slot, df)

  /** D1 — exact dedup by content hash: deterministic survivor = lowest id
    * per sha2-256 of the content. One shuffle on the hash.
    */
  def exact(df0: DataFrame, textCol: String, idCol: String): DataFrame = {
    val df = graft.Tables.parallel(df0)
    val h = sha2(col(textCol), 256)
    val w = Window.partitionBy(h).orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** D1 at scale when only the survivor ids are needed: `min(id)` per
    * content hash as a partial-aggregating groupBy — the map-side combine
    * shrinks the shuffle to one (hash, id) pair per hash per partition,
    * instead of windowing full rows (which shuffles every payload byte).
    * Returns (idCol, "h" = sha2-256 of the content).
    */
  def exactIds(df0: DataFrame, textCol: String, idCol: String): DataFrame = {
    val df = graft.Tables.parallel(df0)
    df.groupBy(sha2(col(textCol), 256).as("h"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col("h"))
  }

  /** D2 — MinHash + banded LSH near-dup candidates.
    *
    * numHashes MinHash values per doc, grouped into `bands` bands of
    * `numHashes / bands` rows each; docs sharing any full band signature are
    * candidates. Returns (idCol a, idCol b) candidate pairs with a < b.
    * Pipeline: project signatures (narrow) → explode bands (×bands) →
    * shuffle on (band, signature) → per-bucket pairing. Bucket sizes are
    * bounded by signature collisions, not corpus size.
    */
  def minhashLshCandidates(
      df0: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 16, bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val df = graft.Tables.parallel(df0)
    val rowsPerBand = numHashes / bands
    val sig = (0 until numHashes).map(i => TextFunctions.minhash(col(textCol), i))
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("|", sig.slice(b * rowsPerBand, (b + 1) * rowsPerBand): _*).as("sig"))
    }
    val exploded = df
      .select(col(idCol), explode(array(bandCols: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val a = exploded.select(col("band"), col("sig"), col(idCol).as("a"))
    val b = exploded.select(col("band"), col("sig"), col(idCol).as("b"))
    a.join(b, Seq("band", "sig")).filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** SimHash exact-signature clustering: docs whose 64-bit SimHash matches
    * exactly (Hamming distance 0 grouping; distance ≤ k is
    * [[simhash64NearDup]]). Returns each doc with its cluster representative
    * (min id per signature bucket).
    *
    * Round-2 verdict fix: this operator formerly grouped on the 16-bit
    * signature — a 65,536-bucket space that collides everything at corpus
    * scale — and windowed FULL rows by it. It now keys on the 64-bit
    * signature (2^64 space) and shuffles only (id, signature) pairs; the
    * legacy 16-bit signature survives only as the `graft_simhash16` scalar
    * function (the reference-era demo semantic).
    */
  def simhashClusters(df0: DataFrame, textCol: String, idCol: String): DataFrame = {
    val df = graft.Tables.parallel(df0)
    val w = Window.partitionBy(col("simhash"))
    df.select(col(idCol), TextFunctions.simhash64(col(textCol)).as("simhash"))
      .withColumn("rep", min(col(idCol)).over(w))
  }

  /** SimHash64 near-dup with a Hamming-distance guarantee — the corpus-scale
    * replacement for [[simhashClusters]]' exact-16-bit grouping (round-1
    * verdict: 65,536 buckets is a toy space).
    *
    * Block-permutation banding (Manku/Jain/Das Sarma, WWW 2007): the 64-bit
    * signature is split into `blocks` contiguous blocks; one candidate table
    * per `(blocks - k)`-subset of blocks, keyed by those blocks' bits. If two
    * signatures differ in ≤ k bits, the diffs touch ≤ k blocks, so the table
    * keyed on the remaining `blocks - k` intact blocks matches them —
    * candidate recall at Hamming ≤ k is EXACT (asserted vs the quadratic
    * formulation in OperatorSpec), never heuristic. Defaults blocks=6, k=3:
    * C(6,3)=20 tables with ~32-bit keys — 2^32 bucket space, so bucket
    * population stays near-uniform at corpus scale (×20 replication of
    * (id, sig) pairs only — payloads never fan out).
    *
    * Verification inside each bucket is exact (`bit_count(a^b) <= k`).
    * Returns (idCol, simhash64, rep) where rep = min id over the doc's
    * Hamming-≤k neighborhood including itself (single-link, 1 hop).
    */
  def simhash64NearDup(
      df0: DataFrame, textCol: String, idCol: String,
      k: Int = 3, blocks: Int = 6): DataFrame = {
    val df = graft.Tables.parallel(df0)
    val sig = df.select(col(idCol), TextFunctions.simhash64(col(textCol)).as("sh"))
    // COLLAPSE IDENTICAL SIGNATURES before banding (round-14 sf10 gate
    // forensics): the in-bucket pairing is quadratic in signature
    // MULTIPLICITY, and a dup-heavy corpus — the very thing dedup runs on —
    // makes multiplicity the dominant term (the 10×-replicated sf10
    // fixture: groups of ≥10 identical docs → ≥45 same-sig pairs per group
    // per table ×20 tables; d20 went 12× for 10× data, with one run
    // spilling to 136 s). Pairing over DISTINCT signatures is invariant to
    // the dup rate; every group member shares its group's neighborhood, so
    // rep(d) = min(group id, neighbor group ids) — algebraically identical
    // to the per-doc fold (gid ≤ every member id), proven by the oracle
    // and OperatorSpec's quadratic-reference gate.
    val groups = sig.groupBy("sh").agg(min(col(idCol)).as("gid"))
    val banded = simhash64Banded(
      groups.select(col("gid").as(idCol), col("sh")), idCol, k, blocks)
    val lhs = banded.select(col("key"), col(idCol).as("a"), col("sh").as("sha"))
    val rhs = banded.select(col("key"), col(idCol).as("b"), col("sh").as("shb"))
    // verified group pairs: same-table duplicate pairs are harmless under
    // the min() fold below, so no distinct pass (unlike simhash64Pairs'
    // exact-pairs contract)
    val pairs = lhs.join(rhs, Seq("key"))
      .filter(col("a") < col("b"))
      .filter(bit_count(col("sha").bitwiseXOR(col("shb"))) <= k)
      .select(col("a"), col("b"), col("sha"), col("shb"))
    // group rep = min over {own gid} ∪ neighbor gids, keyed by signature;
    // the signature rides the union (positional: sh, nbr) so no join back
    // onto groups
    val grep = groups.select(col("sh"), col("gid").as("nbr"))
      .union(pairs.select(col("sha"), col("b")))
      .union(pairs.select(col("shb"), col("a")))
      .groupBy("sh").agg(min("nbr").as("rep"))
    // fan the group rep back to members: one equi-join on the signature
    // (the collapse's price — linear, and it replaces a dup-rate-quadratic
    // pairing)
    sig.join(grep, Seq("sh"))
      .select(col(idCol), col("sh").as("simhash64"), col("rep"))
  }

  /** Banded candidate tables for a (id, "sh") signature frame: one row per
    * (doc, table) with the table's block-key struct. Exposed for the
    * bucket-skew bound in ScaleOpsSpec.
    */
  def simhash64Banded(sig: DataFrame, idCol: String, k: Int, blocks: Int): DataFrame = {
    require(k < blocks, s"pigeonhole guarantee needs k < blocks (got k=$k, blocks=$blocks)")
    require(blocks <= 16, "more than 16 blocks explodes the table count")
    val sizes = Array.fill(blocks)(64 / blocks)
    (0 until 64 % blocks).foreach(sizes(_) += 1)
    val offsets = sizes.scanLeft(0)(_ + _)
    def blockVal(i: Int) =
      shiftrightunsigned(col("sh"), offsets(i))
        .bitwiseAND(lit(if (sizes(i) == 64) -1L else (1L << sizes(i)) - 1))
    val tables = (0 until blocks).combinations(blocks - k).toSeq
    val keyCols = tables.zipWithIndex.map { case (t, ti) =>
      // positional field names — identical struct type across tables
      struct(lit(ti).as("t") +: t.zipWithIndex.map {
        case (i, pos) => blockVal(i).as(s"k$pos")
      }: _*)
    }
    sig.select(col(idCol), col("sh"), explode(array(keyCols: _*)).as("key"))
  }

  /** Verified Hamming-≤k pairs (a < b) from the banded candidate join. */
  def simhash64Pairs(sig: DataFrame, idCol: String, k: Int, blocks: Int): DataFrame = {
    val banded = simhash64Banded(sig, idCol, k, blocks)
    val lhs = banded.select(col("key"), col(idCol).as("a"), col("sh").as("sha"))
    val rhs = banded.select(col("key"), col(idCol).as("b"), col("sh").as("shb"))
    lhs.join(rhs, Seq("key"))
      .filter(col("a") < col("b"))
      .filter(bit_count(col("sha").bitwiseXOR(col("shb"))) <= k)
      .select(col("a"), col("b")).distinct()
  }

  /** n-gram Jaccard similarity for candidate pairs: explode distinct word
    * n-gram shingles, self-join on the shingle (bucket-local), count
    * intersections, derive |A∪B| from per-doc set sizes. Returns
    * (a, b, inter, size_a, size_b, jaccard) for pairs with jaccard ≥ τ.
    *
    * Skew guard (round-1 verdict): candidate generation joins only shingles
    * with document frequency ≤ `dfMax`. A stop-phrase shingle shared by 1%
    * of a 100-TB corpus otherwise creates a quadratic bucket, while
    * contributing almost nothing to any pair's jaccard. Verification stays
    * EXACT: intersection counts are recomputed over ALL shingles (uncapped)
    * for candidate pairs, so surviving pairs carry the true jaccard. The
    * only pairs dropped are those whose shared shingles are ALL ubiquitous
    * (each in > dfMax docs) — pairs similar purely by stop-phrases, which is
    * the standard stop-gram filtering trade (cf. prefix-filter set-similarity
    * joins); ScaleOpsSpec asserts equivalence vs the quadratic truth on a
    * corpus with a planted corpus-wide shingle.
    *
    * The cap is OPT-IN (default ∞): unfiltered results on the same inputs are
    * the round-1 contract, and a silent default cap would change external
    * callers' results. 100-TB callers should use [[ngramJaccardPairsAtScale]],
    * which REQUIRES a finite cap and cannot silently run uncapped.
    *
    * PRECONDITION: `idCol` is unique — each input row is ONE document. The
    * per-row `array_distinct` shingling is equivalent to a corpus-wide
    * (doc, shingle) distinct only under that contract; duplicate ids (which
    * the pre-round-16 corpus-wide `.distinct()` silently collapsed) now
    * inflate per-doc set sizes and intersection counts, i.e. produce wrong
    * jaccard values. Run [[exactIds]]/[[exactDedup]] first if the input may
    * carry duplicate rows.
    */
  def ngramJaccardPairs(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, tau: Double = 0.05, dfMax: Long = Long.MaxValue): DataFrame = {
    // The (doc, shingle) frame feeds sizes, the df cap, candidate
    // generation, AND exact verification — four consumers whose alias
    // renames defeat exchange reuse, which would otherwise re-shingle the
    // corpus per consumer (16 scans in the unpersisted plan). Set-similarity
    // joins stage-materialize the shingle table in practice; stage() is
    // that staging (MEMORY_AND_DISK — spills, never recomputes — and the
    // previous call's frame is released).
    // per-doc distinct shingles via array_distinct BEFORE the explode: each
    // input row is one document (idCol is the unique document id), so the
    // per-row form is exactly the old corpus-wide `.distinct()` — minus its
    // full (doc, shingle) exchange; the staged frame is now produced by a
    // completely narrow scan (round-16, guide §2.4 "remove shuffles outright")
    val shingles = stage("jaccard", graft.Tables.parallel(df)
      .select(col(idCol).as("doc"),
        explode(array_distinct(TextFunctions.wordShingles(col(textCol), n))).as("g")))
    val sizes = shingles.groupBy("doc").agg(count(lit(1)).as("sz"))
    // UNCAPPED fast path (round-16): with dfMax = ∞ every shingle is
    // discriminative, so "pairs sharing ≥1 discriminative shingle, then
    // count shared shingles over ALL shingles" degenerates to counting the
    // shingle self-join directly — one join + one partial-aggregated
    // exchange instead of candidate join + distinct + two verification
    // joins. Identical output by construction (a pair appears iff it
    // shares ≥1 shingle; the count is over all shared shingles either
    // way). The capped path keeps the split: candidates must share a
    // discriminative shingle but the jaccard is verified over ALL.
    val inter =
      if (dfMax == Long.MaxValue)
        shingles.select(col("g"), col("doc").as("a"))
          .join(shingles.select(col("g"), col("doc").as("b")), Seq("g"))
          .filter(col("a") < col("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("inter"))
      else {
        val discriminative = shingles.groupBy("g")
          .agg(count(lit(1)).as("df")).filter(col("df") <= dfMax).select("g")
        val capped = shingles.join(discriminative, Seq("g"))
        val cand = capped.select(col("g"), col("doc").as("a"))
          .join(capped.select(col("g"), col("doc").as("b")), Seq("g"))
          .filter(col("a") < col("b"))
          .select("a", "b").distinct()
        cand
          .join(shingles.select(col("doc").as("a"), col("g")), Seq("a"))
          .join(shingles.select(col("doc").as("b"), col("g")), Seq("b", "g"))
          .groupBy("a", "b").agg(count(lit(1)).as("inter"))
      }
    inter
      .join(sizes.select(col("doc").as("a"), col("sz").as("sza")), Seq("a"))
      .join(sizes.select(col("doc").as("b"), col("sz").as("szb")), Seq("b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= tau)
  }

  /** The corpus-scale entry point for [[ngramJaccardPairs]]: identical
    * semantics, but the document-frequency cap is a REQUIRED, finite
    * parameter — the legacy signature's ∞ default is a documented sharp
    * edge at 100 TB (one corpus-wide stop-phrase shingle creates a
    * quadratic candidate bucket), and an entry point that cannot compile
    * without a cap is the guard rail. Recall loss is bounded exactly as
    * documented on the base operator: only pairs similar PURELY by
    * ubiquitous shingles are dropped; surviving pairs carry exact jaccard.
    */
  def ngramJaccardPairsAtScale(
      df: DataFrame, textCol: String, idCol: String, dfMax: Long,
      n: Int = 3, tau: Double = 0.05): DataFrame = {
    require(dfMax > 0 && dfMax < Long.MaxValue,
      s"ngramJaccardPairsAtScale requires a finite positive dfMax (got $dfMax); " +
        "use ngramJaccardPairs explicitly if you really want the uncapped join")
    ngramJaccardPairs(df, textCol, idCol, n, tau, dfMax)
  }

  /** Benchmark decontamination report — for every training document, the
    * number of distinct word n-grams it shares with an evaluation/benchmark
    * corpus (the standard "13-gram overlap" decontamination rule of LLM
    * training pipelines; n is a parameter because fixture documents are
    * short).
    *
    * Scale design: the eval side is a benchmark — thousands of documents,
    * not billions — so its distinct shingle set is collected into a
    * broadcast hash relation. The training corpus is then touched exactly
    * once with a narrow projection (per-row `array_distinct` keeps the
    * explode per-doc-unique WITHOUT a (id, shingle) distinct shuffle); the
    * only shuffle in the whole plan carries (id, count) partial aggregates
    * of matched docs. Training payload bytes never move.
    *
    * Returns (idCol, n_overlap) for contaminated docs only.
    */
  def contaminationReport(
      train: DataFrame, eval: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame = {
    val evalShingles = eval
      .select(explode(array_distinct(TextFunctions.wordShingles(col(textCol), n))).as("g"))
      .distinct()
    graft.Tables.parallel(train)
      .select(col(idCol),
        explode(array_distinct(TextFunctions.wordShingles(col(textCol), n))).as("g"))
      .join(broadcast(evalShingles), Seq("g"))
      .groupBy(idCol).agg(count(lit(1)).as("n_overlap"))
  }

  /** The production decontamination op: training docs minus everything the
    * [[contaminationReport]] flags — an anti join on the (small) contaminated
    * id set, so the clean corpus streams through untouched.
    */
  def decontaminate(
      train: DataFrame, eval: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    train.join(
      broadcast(contaminationReport(train, eval, textCol, idCol, n).select(idCol)),
      Seq(idCol), "left_anti")

  /** Bloom-prefiltered contamination report — same RESULT as
    * [[contaminationReport]], different scale envelope. The broadcast-exact
    * design caps out when the eval/reference shingle set no longer fits an
    * executor broadcast (a multi-benchmark union or a reference corpus can
    * be 10^9+ distinct shingles ≈ tens of GB exact, but ~1.2 GB as a 1%
    * Bloom). Three-stage filter-and-verify, exactness preserved:
    *
    *  1. BUILD: eval shingles → xxhash64 → mergeable [[graft.functions
    *     .BloomFilterAggregator]] (bitwise-OR merge, map-side partials; the
    *     finished words are driver-sized like Spark's own runtime-bloom
    *     subquery result, then re-broadcast as a torrent handle).
    *  2. PREFILTER: one narrow pass over the training corpus keeps only
    *     shingles the filter MIGHT contain — no false negatives, so nothing
    *     real is lost; ~fpp of clean shingles survive as noise. This is the
    *     only stage that touches 100-TB bytes, and it shuffles nothing.
    *  3. VERIFY: the surviving sliver equi-joins the exact eval shingle set
    *     (plain shuffle join — neither side need be broadcastable; both are
    *     post-filter slivers), striking every false positive. The report is
    *     therefore bit-identical to the exact operator and shares its
    *     DuckDB oracle.
    */
  def bloomContaminationReport(
      train: DataFrame, eval: DataFrame, textCol: String, idCol: String,
      n: Int, expectedEvalShingles: Long, fpp: Double = 0.01): DataFrame = {
    import graft.functions.BloomFilterOps
    val evalShingles = stage("bloom-decon-eval", eval
      .select(explode(array_distinct(TextFunctions.wordShingles(col(textCol), n))).as("g"))
      .distinct())
    val (bits, numHashes) = BloomFilterOps.build(
      evalShingles.select(xxhash64(col("g")).as("h")), expectedEvalShingles, fpp)
    graft.Tables.parallel(train)
      .select(col(idCol),
        explode(array_distinct(TextFunctions.wordShingles(col(textCol), n))).as("g"))
      .filter(BloomFilterOps.mightContain(xxhash64(col("g")), bits, numHashes))
      .join(evalShingles, Seq("g"))
      .groupBy(idCol).agg(count(lit(1)).as("n_overlap"))
  }

  /** Cross-corpus n-gram Jaccard near-dup pairs — the two-corpus form of
    * [[ngramJaccardPairs]]: which NEW documents near-duplicate something in a
    * REFERENCE corpus (incremental-crawl dedup, eval-set fuzzy
    * decontamination). Returns (a = new id, b = ref id, inter, jaccard ≥ τ).
    *
    * Same filter-and-verify scale shape as the self-join variant: candidates
    * come from an equi-join on shingles (bucket-local, never all-pairs), the
    * df cap drops only non-discriminative grams from CANDIDATE GENERATION
    * (document frequency measured on the reference side — the standing
    * corpus is where stop-phrases accumulate at scale), and verification
    * recomputes exact intersections over ALL shingles of candidate pairs.
    * As in [[ngramJaccardPairs]], the cap is OPT-IN (default ∞); 100-TB
    * callers should use [[ngramJaccardPairsCrossAtScale]], which requires a
    * finite cap.
    */
  def ngramJaccardPairsCross(
      newDf: DataFrame, refDf: DataFrame, textCol: String, idCol: String,
      n: Int = 3, tau: Double = 0.05, dfMax: Long = Long.MaxValue): DataFrame =
    ngramJaccardPairsCrossFromPostings(newDf,
      graft.Tables.parallel(refDf)
        .select(col(idCol).as("b"),
          explode(array_distinct(TextFunctions.wordShingles(col(textCol), n))).as("g")),
      textCol, idCol, n, tau, dfMax)

  /** [[ngramJaccardPairsCross]] with the REFERENCE side given as a standing
    * postings frame `(b, g)` — one row per (ref doc, distinct shingle) —
    * instead of being re-shingled from text. This is the probe face of the
    * standing near-dup index ([[NearDupIndex]]): an incremental crawl
    * re-shingles only the NEW side; the standing corpus's postings are a
    * maintained catalog table, never recomputed. Semantics are identical
    * by construction (the text form above routes through here).
    */
  def ngramJaccardPairsCrossFromPostings(
      newDf: DataFrame, refPostings: DataFrame, textCol: String, idCol: String,
      n: Int = 3, tau: Double = 0.05, dfMax: Long = Long.MaxValue): DataFrame = {
    // staged like ngramJaccardPairs: each side feeds sizes + candidates +
    // verification, so both shingle frames stage instead of re-scanning
    val shA = stage("jaccard-cross-a",
      graft.Tables.parallel(newDf)
        .select(col(idCol).as("a"),
          explode(array_distinct(TextFunctions.wordShingles(col(textCol), n))).as("g")))
    val shB = stage("jaccard-cross-b", refPostings.select(col("b"), col("g")))
    val sizesA = shA.groupBy("a").agg(count(lit(1)).as("sza"))
    val sizesB = shB.groupBy("b").agg(count(lit(1)).as("szb"))
    // uncapped fast path: same degeneration as [[ngramJaccardPairs]] —
    // with every shingle discriminative, the candidate step is redundant
    // and the intersection counts straight off the one cross join
    val inter =
      if (dfMax == Long.MaxValue)
        shA.join(shB, Seq("g"))
          .groupBy("a", "b").agg(count(lit(1)).as("inter"))
      else {
        val discriminative = shB.groupBy("g")
          .agg(count(lit(1)).as("df")).filter(col("df") <= dfMax).select("g")
        val cand = shA.join(discriminative, Seq("g"))
          .join(shB, Seq("g"))
          .select("a", "b").distinct()
        cand
          .join(shA, Seq("a"))
          .join(shB, Seq("b", "g"))
          .groupBy("a", "b").agg(count(lit(1)).as("inter"))
      }
    inter
      .join(sizesA, Seq("a")).join(sizesB, Seq("b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= tau)
      .select("a", "b", "inter", "jaccard")
  }

  /** The corpus-scale entry point for [[ngramJaccardPairsCross]]: identical
    * semantics, REQUIRED finite `dfMax` — same guard-rail rationale as
    * [[ngramJaccardPairsAtScale]] (the reference-side stop-phrase bucket is
    * the quadratic failure mode of incremental-crawl dedup at 100 TB).
    */
  def ngramJaccardPairsCrossAtScale(
      newDf: DataFrame, refDf: DataFrame, textCol: String, idCol: String,
      dfMax: Long, n: Int = 3, tau: Double = 0.05): DataFrame = {
    require(dfMax > 0 && dfMax < Long.MaxValue,
      s"ngramJaccardPairsCrossAtScale requires a finite positive dfMax (got $dfMax); " +
        "use ngramJaccardPairsCross explicitly if you really want the uncapped join")
    ngramJaccardPairsCross(newDf, refDf, textCol, idCol, n, tau, dfMax)
  }

  /** Transitive closure of candidate PAIRS into dup components — the final
    * step every corpus dedup needs: MinHash/SimHash/Jaccard emit "a~b"
    * edges, but the unit you keep-one-of is the CONNECTED COMPONENT (a~b,
    * b~c ⇒ {a,b,c} even when a,c never paired). Returns (id, component)
    * for every node appearing in a pair, component = min id reachable
    * (single-link clustering). Nodes with no edges don't appear — the
    * caller coalesces to self (see `d30_cc_components`).
    *
    * Iterative min-label propagation with pointer jumping: each round
    * (a) every node pulls the min label over its neighbors, then (b) every
    * label rebinds through ITS OWN current label (pointer doubling), so a
    * length-L chain collapses in O(log L) rounds, not O(L). Each round is
    * hash-shuffle equi-joins on node id — no global state, no driver-side
    * data; the only thing crossing to the driver per round is the scalar
    * convergence probe. Rounds persist via the staged-slot discipline and
    * re-plan from the persisted frame, so lineage never grows with the
    * round count. Convergence = fixpoint test against the STATIC edge set
    * (some edge still joins two labels ⇒ not done); labels only decrease
    * and every assigned label is a member id, so at fixpoint the constant
    * label per component IS the component min.
    */
  def connectedComponents(
      pairs: DataFrame, aCol: String = "a", bCol: String = "b",
      maxRounds: Int = 50): DataFrame = {
    // Iterative frames MUST truncate lineage, not just cache: a persisted
    // frame keeps its full LOGICAL plan, so round N's plan would nest every
    // prior round's (each round references its predecessor ~5×) — analysis
    // and plan-string cost grow exponentially with rounds (observed as a
    // driver OOM building an AQE explain string). localCheckpoint replaces
    // the plan with the materialized RDD (eager), keeping every round's
    // plan O(1); blocks are executor-resident (lost-executor recompute is
    // not possible — acceptable for a convergent loop that simply reruns).
    // Checkpoint the PAIR list before symmetrizing: the union references
    // `pairs` twice, so materializing the union directly would execute the
    // caller's whole candidate pipeline (shingling, candidate joins,
    // verification) TWICE — measured as half of d30's job count.
    val p0 = pairs
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .localCheckpoint()
    // Loop partitioning is derived from the MEASURED pair count (one count
    // job over the just-cached blocks), not the session's shuffle setting:
    // every per-round exchange below lands at `n` partitions sized by
    // IterativeScope.partitionsFor. AQE is disabled for the
    // loop's plans (IterativeScope) — its per-stage re-optimization turns
    // each round's 5-6 exchanges into as many separate jobs, pure driver
    // overhead for a loop whose sizes are already known and static; the
    // checkpointed edge frame carries its partitioning+ordering across
    // rounds instead (LogicalRDD preserves both), so the static side is
    // never re-exchanged or re-sorted.
    val n = IterativeScope.partitionsFor(p0.sparkSession, 2L * p0.count())
    IterativeScope.withLoopConfs(p0.sparkSession, n) {
      // the static frame, symmetrized from the materialized pair list,
      // then exchanged and sorted ONCE: every round's edges⋈labels
      // sort-merge join reuses this layout for the edge side (per-round
      // join cost is node-sized, not edge-sized)
      // dedup INSIDE the src-shuffle (round-17, same fusion as PageRank):
      // hash(src) clusters every duplicate (src, dst) row into one
      // partition, so the distinct above the explicit repartition plans as
      // a partition-local aggregate — one pair-sized exchange total, where
      // distinct-then-repartition paid two.
      val edges = p0
        .union(p0.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(n, col("src"))
        .distinct()
        .sortWithinPartitions("src").localCheckpoint()
      Staged.free(p0) // dead: edges materialized, nothing else reads the pair list
      // round 0: least of self and min neighbor (symmetric edges ⇒ every
      // paired node appears as src). Co-partitioned with edges — the agg
      // needs no exchange, and the checkpoint keeps labels hash(id, n).
      var labels = edges
        .groupBy(col("src").as("id")).agg(min(col("dst")).as("nmin"))
        .select(col("id"), least(col("id"), col("nmin")).as("comp"))
        .localCheckpoint()
      var round = 0
      var done = false
      while (!done && round < maxRounds) {
        // (a) pull min neighbor label along edges
        val viaEdges = edges
          .join(labels.select(col("id").as("src"), col("comp").as("scomp")), Seq("src"))
          .groupBy(col("dst").as("id")).agg(min(col("scomp")).as("ncomp"))
        val pulled = labels.join(viaEdges, Seq("id"), "left")
          .select(col("id"), col("comp").as("__prev"),
            least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
        // (b) pointer jump: comp := label(comp) when smaller. The round's
        // OLD label rides along as __prev so the fixpoint probe needs no
        // join at all. Re-partition by id before the checkpoint so next
        // round's label-side joins (on id / id-as-src) reuse the layout.
        val next = pulled.as("x")
          .join(pulled.select(col("id").as("cid"), col("comp").as("ccomp")).as("y"),
            col("x.comp") === col("y.cid"), "left")
          .select(col("x.id").as("id"), col("x.__prev").as("__prev"),
            least(col("x.comp"), coalesce(col("ccomp"), col("x.comp"))).as("comp"))
          .repartition(n, col("id"))
          .localCheckpoint() // eager: materializes AND truncates the plan
        // fixpoint probe: "this round changed nothing" is the fixpoint — and
        // it implies edge-consistency: with symmetric edges, an unchanged
        // pull step means comp(d) ≤ comp(s) along every edge in BOTH
        // directions, i.e. equal labels across every edge. The probe scans
        // the just-materialized blocks (no join, no shuffle) — the old
        // probe's two edge-sized joins per round were the dominant per-round
        // cost at scale, where edges outnumber nodes by the average degree.
        // A filtered count, not limit(1): LimitExec names its counter from a
        // process-global sequence, so a limit compiles a fresh class per
        // call, and the last round matches nothing and scans every block.
        done = next.filter(col("comp") =!= col("__prev")).count() == 0L
        // the superseded round is structurally dead (next is materialized
        // and the probe read next, not labels) — release its blocks NOW;
        // waiting for GC+ContextCleaner leaked one node-sized block set per
        // round per call and filled the block store over a bench sweep
        // (round-16 rc=124; Staged scaladoc)
        Staged.free(labels)
        labels = next
        round += 1
      }
      require(done,
        s"connectedComponents did not converge in $maxRounds rounds — " +
          "raise maxRounds (component diameter exceeds 2^rounds)")
      Staged.free(edges) // loop exited: the static edge table is dead
      // the final label frame is the caller's result — released at the
      // NEXT connectedComponents call (Staged.handoff scaladoc)
      Staged.handoff("cc-labels", labels).select("id", "comp")
    }
  }

  /** Survivor selection over dedup components: keep the BEST-scoring member
    * of each component (longest / highest-quality document), not the
    * arbitrary min-id. This is the final decision step of a corpus dedup —
    * [[connectedComponents]] names the unit to keep one of; this names
    * WHICH one. Returns one row per component: (component, keep_id,
    * members).
    *
    * One aggregation, no window: the argmax rides a `max_by` over the
    * (score, -id) struct — map-side partial aggregation keeps one candidate
    * per (component, partition), so a 100-TB corpus shuffles one row per
    * component per task, never the member payloads, and there is no
    * per-component sort (the window formulation would shuffle AND sort every
    * member). Ties break to the LOWEST id (ids are unique, so the struct
    * order is total and the survivor is deterministic under any
    * partitioning or retry).
    */
  def keepCanonical(
      members: DataFrame, idCol: String, compCol: String, scoreCol: String): DataFrame =
    members.groupBy(col(compCol).as("component"))
      .agg(
        expr(s"max_by($idCol, struct($scoreCol, -$idCol))").as("keep_id"),
        count(lit(1)).as("members"))

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster embeddings with k-means, then prune WITHIN each cluster — a
    * row is dropped iff some lower-id row in the SAME cluster has cosine
    * ≥ `tau` with it (keep-lowest-id, the d1/exact-dedup survivor rule made
    * order-free: "exists a smaller near-identical neighbor" needs no greedy
    * scan order).
    *
    * The scale argument IS the clustering: pairing is cluster-local (one
    * equi-join on `cell`), so the quadratic term is Σ|cell|², bounded by
    * the operator's k — SemDeDup's own knob (k grows with corpus size so
    * cells stay bounded). No cross-cluster pair is ever materialized; the
    * all-pairs baseline this replaces is d21's documented bounded slice.
    *
    * Returns every input row with its `cell` and a `dropped` flag, so
    * callers can either filter survivors or audit the prune rate.
    */
  def semanticDedup(
      vecs: DataFrame, idCol: String, embCol: String,
      cents: Seq[Seq[Float]], tau: Double): DataFrame =
    semanticCore(
      KMeans.assign(vecs.select(col(idCol), col(embCol)), embCol, cents),
      idCol, embCol, tau)

  /** [[semanticDedup]] with the centroids as a `seeds(cell, centroid)`
    * DataFrame (collect-free; seeds are broadcast) — the form the declared
    * d43 query uses, with seed rows picked straight from the corpus.
    */
  def semanticDedupSeeds(
      vecs: DataFrame, idCol: String, embCol: String,
      seeds: DataFrame, tau: Double): DataFrame =
    semanticCore(
      KMeans.assignBySeeds(
        vecs.select(col(idCol), col(embCol)), idCol, embCol, seeds),
      idCol, embCol, tau)

  /** Cross-document duplicated-span mining — the span-level face of exact
    * dedup (the signal RefinedWeb/Lee-et-al-style pipelines use to find
    * boilerplate that document-level dedup misses: navigation chrome,
    * license blocks, templated headers repeated across otherwise-distinct
    * pages). A span is an n-token window; a span is REPORTED when its
    * fingerprint occurs in at least `minDocs` distinct documents.
    *
    * Returns (fp, n_docs, n_occurrences, min_doc) for every such span.
    * Shape at 100 TB: explode to (fingerprint, doc) pairs → ONE map-side-
    * combined groupBy on the fingerprint — the count-distinct rides the
    * same shuffle (partial aggregation on (fp, doc) pairs); no joins, no
    * second corpus pass. Callers wanting "the worst offenders" compose a
    * top-k (TakeOrdered) on the result, as d45 does; the full result is
    * n-gram-vocabulary-sized, the same bound as every shingle table here.
    */
  def dupSpans(docs: DataFrame, textCol: String, idCol: String,
      n: Int, minDocs: Int = 2): DataFrame = {
    require(n >= 2, s"span width must be >= 2 tokens, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    docs
      .select(col(idCol), explode(
        graft.functions.TextFunctions.wordShingles(col(textCol), n)).as("g"))
      .select(col(idCol), md5(col("g")).as("fp"))
      .groupBy("fp")
      .agg(
        countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col(idCol)).as("min_doc"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Exact-substring duplicate spans — the suffix-array dedup family's
    * verdict (Lee et al. 2021 "Deduplicating Training Data Makes Language
    * Models Better", ExactSubstr: remove every substring of >= 50 tokens
    * that recurs verbatim), computed distributively via the
    * fingerprint-adjacency trick instead of a monolithic suffix array:
    *
    *  - fingerprint every OVERLAPPING `minLen`-token window with its
    *    position — a window is "covered" iff its fingerprint occurs in at
    *    least one OTHER document (cross-document, this suite's dedup
    *    scope; min(doc) != max(doc) decides it in the same aggregate);
    *  - a maximal duplicated substring of M >= minLen tokens is exactly a
    *    maximal run of M - minLen + 1 consecutive covered positions, so
    *    gaps-and-islands over positions (pos - row_number per doc)
    *    reconstructs the MAXIMAL spans — [[dupSpans]]'s fixed-width
    *    mining generalized to arbitrary-length runs, and overlapping
    *    duplicates merge into one span (the union ExactSubstr removes).
    *
    * Returns one row per maximal span: (idCol, span_start, span_tokens),
    * span_start the 0-based token index. Docs shorter than `minLen`
    * tokens have no windows and are absent, like every chunk verb here.
    *
    * Scale shape (no suffix array, no quadratic term): the window table is
    * ~corpus-token-sized and shuffles TWICE — once keyed by fingerprint
    * (a map-side-combined groupBy reduces each fingerprint to one
    * (min,max) row, then a semi-join marks covered windows; a boilerplate
    * fingerprint duplicated across 10^6 docs is ONE reduced row, never a
    * buffered window partition), once keyed by doc id for the islands
    * row_number, whose partitions are bounded by single-doc length.
    */
  def exactSubstrSpans(docs: DataFrame, textCol: String, idCol: String,
      minLen: Int): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2 tokens, got $minLen")
    val toks = TextFunctions.tokens(col(textCol))
    val nwin = (size(toks) - minLen + 1).cast("int")
    val fps = when(nwin >= 1,
      transform(sequence(lit(0), nwin - 1),
        i => md5(concat_ws(" ", slice(toks, i + 1, lit(minLen))))))
      .otherwise(array().cast("array<string>"))
    // staged like the jaccard shingle frame: the window fingerprints feed
    // BOTH the duplicate-fp aggregate and the semi-join probe — without
    // staging, the md5 window explode (the expensive per-row work) runs
    // twice, once per consumer (round-16; plan showed two Generate nodes)
    val windows = stage("exactsubstr", docs
      .select(col(idCol), posexplode(fps).as(Seq("pos", "fp"))))
    val dupFps = windows.groupBy("fp")
      .agg(min(col(idCol)).as("__d_min"), max(col(idCol)).as("__d_max"))
      .filter(col("__d_min") =!= col("__d_max"))
      .select("fp")
    val covered = windows.join(dupFps, Seq("fp"), "left_semi")
    covered
      .withColumn("__grp", col("pos") - row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("pos"))))
      .groupBy(col(idCol), col("__grp"))
      .agg(
        min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) - min(col("pos")) + minLen).cast("long")
          .as("span_tokens"))
      .drop("__grp")
  }

  /** C4/RefinedWeb-style duplicated-chunk survivorship (Lee et al. 2021
    * "Deduplicating Training Data Makes Language Models Better"; Raffel et
    * al. 2020 §2.2 dedupe exact three-sentence spans; Penedo et al. 2023
    * line-level dedup): split each doc into consecutive NON-overlapping
    * `width`-token chunks (the corpus has no newline structure, so fixed
    * token blocks stand in for C4's sentences / RefinedWeb's lines),
    * fingerprint each chunk, and keep a chunk instance only in the LOWEST-id
    * doc that contains it anywhere in the corpus (first-occurrence-wins —
    * the rule that deletes boilerplate from every doc but its first carrier).
    * Emits per doc: total/kept chunk counts, the kept fraction in exact
    * basis points (BIGINT floor division, no floating point), and a
    * `survives` verdict (kept >= half). Docs shorter than `width` tokens
    * have no chunks and are excluded — C4 drops sub-sentence pages the same
    * way (and the d46 oracle's join cannot see them either).
    *
    * This is the REMOVAL face of the span machinery: [[dupSpans]] MINES the
    * worst overlapping offender spans for inspection; chunkDedup decides,
    * per doc, how much text survives span-level dedup — the number a
    * curation pipeline thresholds on.
    *
    * Scale shape: explode yields ~tokens/width rows; one wide shuffle
    * partitions them by the 32-hex chunk fingerprint (payload is (hash, id)
    * pairs only — never text) for a window-min owner resolution, then one
    * doc-keyed agg. No join of two corpus-sized relations, no quadratic
    * term at any dup rate: a chunk duplicated across a million docs is one
    * window partition, and the min is a single pass.
    */
  /** The d46 chunk fingerprint array — md5 of each NON-overlapping
    * `width`-token block. Shared by [[chunkDedup]] and the streaming filter
    * ([[graft.streaming.StreamingIngest.chunkDedupStream]]) so the two
    * faces cannot drift on tokenization or block boundaries.
    */
  private[graft] def chunkFingerprints(textCol: org.apache.spark.sql.Column,
      width: Int): org.apache.spark.sql.Column = {
    val toks = TextFunctions.tokens(textCol)
    val nblk = floor(size(toks) / width).cast("int")
    // sequence(0, n-1) would generate a DESCENDING range for n = 0 — guard
    // zero-chunk docs to an empty array (explode then drops them).
    when(nblk >= 1,
      transform(sequence(lit(0), nblk - 1),
        i => md5(concat_ws(" ", slice(toks, i * width + 1, lit(width))))))
      .otherwise(array().cast("array<string>"))
  }

  def chunkDedup(docs: DataFrame, textCol: String, idCol: String,
      width: Int = 10): DataFrame = {
    require(width >= 2, s"chunk width must be >= 2 tokens, got $width")
    chunkOwnershipVerdicts(docs.select(col(idCol),
      explode(chunkFingerprints(col(textCol), width)).as("fp")), idCol)
  }

  /** Shared back half of [[chunkDedup]] / [[cdcChunkDedup]]: first-
    * occurrence-wins ownership over exploded (id, fp) chunk instances,
    * aggregated to per-doc survivorship verdicts.
    */
  private def chunkOwnershipVerdicts(inst: DataFrame, idCol: String): DataFrame =
    inst
      .withColumn("owner", min(col(idCol)).over(Window.partitionBy("fp")))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("total_chunks"),
        sum(when(col("owner") === col(idCol), 1L).otherwise(0L))
          .cast("int").as("kept_chunks"))
      .withColumn("kept_bp",
        expr("CAST(kept_chunks * 10000L div total_chunks AS INT)"))
      .withColumn("survives", col("kept_chunks") * 2 >= col("total_chunks"))

  /** Content-defined chunk instances — boundaries from a 3-token rolling
    * hash instead of fixed offsets: a boundary falls AFTER token i (i >= 3)
    * iff `(th[i-2]*9173 + th[i-1]*97 + th[i]) mod divisor == 0`, where
    * `th` is the engine-portable md5-prefix token hash (the d47 bucket
    * hash, widened to 8 hex digits). The remainder past the last boundary
    * is always a final chunk, so every non-empty doc has >= 1 chunk.
    *
    * Why content-defined: [[chunkFingerprints]]'s fixed-width blocks all
    * SHIFT under a single token insertion — every downstream chunk changes
    * and the dedup misses the unmodified 99% of the doc. CDC boundaries
    * depend only on a 3-token neighborhood, so an edit perturbs at most
    * the chunks it touches and everything after the next surviving
    * boundary re-aligns (the rsync/LBFS/FastCDC argument, in token space).
    * The multipliers 9173 and 97 are primes, and [[cdcChunkDedup]] requires
    * the divisor coprime with both — so no window position's coefficient
    * vanishes mod the divisor and all 3 tokens genuinely steer every
    * boundary (with an even multiplier like 9176, divisor=8 would zero the
    * oldest token's term and silently shrink the window to 2).
    * Expected chunk length is `divisor` tokens. Production CDC systems add
    * min/max chunk clamps; the clamp is a sequential fold over boundary
    * positions (each acceptance depends on the previous accepted one) and
    * is deliberately left out of the declared face to keep the chunking a
    * pure per-position predicate both engines compute identically.
    *
    * STAGED as withColumn projections, not one nested Column: higher-order
    * functions are interpreted (no whole-stage codegen), so a nested
    * expression tree re-evaluates the token-hash array inside EVERY lambda
    * call — the single-Column form is O(tokens^3) md5 evaluations per doc
    * (a first-cut d50 ran 20+ minutes at sf1 before being killed).
    * Materializing `th`/`bnds`/`ends` as aliases makes each a per-row
    * attribute; CollapseProject keeps non-cheap aliases referenced more
    * than once as real projection stages, so each array is computed once
    * per row and the whole chunking is linear in tokens.
    */
  private[graft] def cdcChunkInstances(docs: DataFrame, textCol: String,
      idCol: String, divisor: Int): DataFrame = {
    val n = size(col("__toks"))
    def cond(i: org.apache.spark.sql.Column) =
      (element_at(col("__th"), (i - 2).cast("int")) * 9173L +
        element_at(col("__th"), (i - 1).cast("int")) * 97L +
        element_at(col("__th"), i.cast("int"))) % divisor === 0
    val prevEnd = (j: org.apache.spark.sql.Column) =>
      when(j === 1, 0).otherwise(element_at(col("__ends"), (j - 1).cast("int")))
    docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
      .withColumn("__th", transform(col("__toks"),
        t => conv(substring(md5(t), 1, 8), 16, 10).cast("long")))
      .withColumn("__bnds", when(n >= 3, filter(sequence(lit(3), n), cond _))
        .otherwise(array().cast("array<int>")))
      .withColumn("__ends",
        when(coalesce(try_element_at(col("__bnds"), lit(-1)), lit(-1)) === n,
          col("__bnds"))
        .otherwise(concat(col("__bnds"), array(n))))
      .select(col(idCol), explode(
        transform(sequence(lit(1), size(col("__ends"))),
          j => md5(concat_ws(" ",
            slice(col("__toks"), prevEnd(j) + 1,
              element_at(col("__ends"), j.cast("int")) - prevEnd(j))))))
        .as("fp"))
  }

  /** [[chunkDedup]] with content-defined boundaries ([[cdcChunkInstances]]):
    * same first-occurrence-wins ownership, same per-doc verdict schema,
    * but robust to token insertion/deletion — the fixed-width face loses
    * every post-edit chunk, this one only the edited neighborhood. Same
    * scale shape: explode is narrow, one fingerprint-keyed shuffle of
    * (hash, id) pairs, one doc agg.
    */
  def cdcChunkDedup(docs: DataFrame, textCol: String, idCol: String,
      divisor: Int = 8): DataFrame = {
    require(divisor >= 2, s"cdc divisor must be >= 2, got $divisor")
    require(divisor % 9173 != 0 && divisor % 97 != 0,
      s"cdc divisor must be coprime with the rolling-hash multipliers " +
        s"9173 and 97 (both prime) so every window token steers the " +
        s"boundary predicate; got $divisor")
    chunkOwnershipVerdicts(cdcChunkInstances(docs, textCol, idCol, divisor), idCol)
  }

  /** [[cdcChunkDedup]] with PRODUCTION min/max chunk clamps (FastCDC's
    * normalization, in token space): a candidate boundary (same 3-token
    * rolling-hash predicate, same 9173/97 multipliers) is ACCEPTED only
    * when the chunk it would close has >= `minLen` tokens, and a boundary
    * is FORCED when a chunk reaches `maxLen` — so interior chunk lengths
    * are provably in [minLen, maxLen] (the final remainder may run short).
    * Clamps kill the pathological tails of pure CDC: a token sequence
    * whose hashes never fire the predicate becomes one giant chunk
    * (dedup granularity lost), one that fires every position becomes
    * per-token chunks (fingerprint explosion).
    *
    * Scala-only face, deliberately NOT under the cross-engine oracle: the
    * clamp makes each acceptance depend on the previously ACCEPTED
    * boundary — a sequential per-doc fold, not the per-position predicate
    * both engines compute identically (the declared d50 face documents
    * this out; ScaleOpsSpec gates this variant instead). Implemented as a
    * typed UDF doing one linear pass per doc — per-doc imperative work is
    * exactly what stays on the executor; distribution, the fingerprint
    * shuffle, and the ownership agg are unchanged from [[cdcChunkDedup]].
    * With `minLen = 1, maxLen = Int.MaxValue` the clamps are vacuous and
    * the output is IDENTICAL to [[cdcChunkDedup]] (spec-pinned — which
    * also pins the UDF's md5/tokenization to the expression forms).
    */
  def cdcChunkDedupClamped(docs: DataFrame, textCol: String, idCol: String,
      divisor: Int = 8, minLen: Int = 4, maxLen: Int = 32): DataFrame = {
    require(divisor >= 2, s"cdc divisor must be >= 2, got $divisor")
    require(divisor % 9173 != 0 && divisor % 97 != 0,
      s"cdc divisor must be coprime with the rolling-hash multipliers; got $divisor")
    require(minLen >= 1 && maxLen >= minLen,
      s"need 1 <= minLen <= maxLen, got [$minLen, $maxLen]")
    val fps = udf { (text: String) =>
      if (text == null) Array.empty[String]
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        def md5hex(s: String): String =
          md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        // split(text, " ") keeps trailing empties in Spark SQL — mirror it
        val toks = text.split(" ", -1)
        val n = toks.length
        val th = toks.map(t => java.lang.Long.parseLong(md5hex(t).take(8), 16))
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var last = 0 // end of the previous accepted chunk (token count)
        var i = 1
        while (i <= n) {
          val candidate = i >= 3 &&
            (th(i - 3) * 9173L + th(i - 2) * 97L + th(i - 1)) % divisor == 0
          val len = i - last
          if (len == maxLen || (candidate && len >= minLen) || i == n) {
            out += md5hex(toks.slice(last, i).mkString(" "))
            last = i
          }
          i += 1
        }
        out.toArray
      }
    }
    chunkOwnershipVerdicts(
      graft.Tables.parallel(docs)
        .select(col(idCol), explode(fps(col(textCol))).as("fp")), idCol)
  }

  private def semanticCore(
      assigned: DataFrame, idCol: String, embCol: String,
      tau: Double): DataFrame = {
    val a = assigned.select(
      col("cell"), col(idCol).as("a"), col(embCol).as("ea"))
    val b = assigned.select(
      col("cell"), col(idCol).as("b"), col(embCol).as("eb"))
    val droppedIds = a.join(b, Seq("cell"))
      .filter(col("a") < col("b"))
      .filter(graft.functions.VectorFunctions.cosine(col("ea"), col("eb")) >= tau)
      .select(col("b").as(idCol))
      .distinct()
      .withColumn("__drop", lit(true))
    assigned.join(droppedIds, Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        coalesce(col("__drop"), lit(false)).as("dropped"))
  }
}
