package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract lint: the SparkEntry maps must stay structurally sound —
  * a duplicate query name or an oracle pointing at a missing query would
  * silently shrink the graded surface.
  */
class ContractSpec extends AnyFunSuite {

  /** Every engine source file: (file name, text). */
  private lazy val mainSources: List[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    scala.util.Using.resource(java.nio.file.Files.walk(root)) { stream =>
      stream.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p.getFileName.toString -> java.nio.file.Files.readString(p)).toList
    }
  }

  test("query names are unique and well-formed") {
    val names = SparkEntry.all.map(_.name)
    assert(names.distinct.size === names.size,
      s"duplicates: ${names.diff(names.distinct).distinct}")
    assert(names.forall(_.matches("[a-z0-9_]+")), "names must be snake_case")
  }

  test("every oracle key has a query; oracles are non-empty single statements") {
    val qs = SparkEntry.queries.keySet
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(qs.contains(k), s"oracle $k has no query")
      assert(sql.trim.nonEmpty && !sql.trim.endsWith(";"))
    }
    // every declared query is oracle-checked in this build — zero
    // rows-only carve-outs. d33_bpe_encode (the former exception: BPE
    // merge tables aren't SQL) is gated through its round-trip invariant
    // (token concatenation must rebuild the normalized text; DuckDB pins
    // it and recomputes n_words) plus BpeSpec for merge-sequence
    // exactness.
    assert(SparkEntry.oracleSql.keySet === qs)
  }

  test("inventory size matches the survey ledger claim") {
    assert(SparkEntry.all.size === 186, s"ledger says 186, found ${SparkEntry.all.size}")
  }

  test("driver-side collect() stays confined to the documented bounded sites") {
    // A collect() in an operator is a 100-TB scale killer unless the frame
    // is provably bounded — the per-round anti-pattern audit as a lint.
    // Allowlist (each with its size bound):
    //  - AsOfJoin.scala: the documented broadcast variant collects the
    //    (small, caller-bounded) right side
    //  - IncrementalAgg.scala: emptied-GROUP-KEYS only (≤ touched groups)
    //  - StreamingIngest.scala: eval-set shingles for a broadcast literal,
    //    size-guarded at the call site
    //  - Bpe.scala: the top-K word histogram (bounded by topWords rows
    //    regardless of corpus size) for the driver-side merge loop
    //  - Similarity.scala: pqTopK's codebook-training sample (bounded by
    //    maxFit vectors — same sampled-fit contract as ivfTopK's KMeans)
    //  - KMeans.scala: distributed fit's driver state — k seed rows at
    //    init, k aggregate rows (count + dim sums) per iteration, one
    //    inertia scalar; metadata-scale regardless of corpus size
    //  - QualityClassifier.scala: per-epoch gradient rows — map-side-
    //    combined to ≤ `buckets` rows before the collect, metadata-scale
    //    at any corpus size (the learned state is one buckets-vector)
    //  - KuduLikeCatalog.scala: compactIncremental's DISTINCT touched
    //    range-partition ids (metadata-scale by definition — bounded by
    //    partition count, never rows; the scan it feeds reads only
    //    pending-mutation-sized delta layers, column-pruned)
    //  - Smoke/Verify mains: driver tools, not operators
    val allowed = Set("AsOfJoin.scala", "IncrementalAgg.scala",
      "StreamingIngest.scala", "Bpe.scala", "Similarity.scala", "Smoke.scala",
      "Verify.scala", "KuduLikeCatalog.scala", "KMeans.scala", "QualityClassifier.scala",
      // bounded: the quantizer model is cells + m*ksub rows by construction
      // (loadModel), and the training sample is capped at maxFit vectors
      "EmbeddingIndex.scala")
    val offenders = mainSources.collect { case (f, text) if text.contains(".collect()") => f }.toSet
    assert((offenders -- allowed).isEmpty,
      s"undocumented collect() in: ${(offenders -- allowed).toSeq.sorted.mkString(", ")} — " +
        "either make the operator distributed or document the bound and extend the allowlist")
  }

  test("engine code probes for existence with a filtered count, not limit(1).count()") {
    // LimitExec names its counter from a process-global sequence, so every
    // limit(1).count() compiles a fresh class, and the common no-match case
    // scans every row anyway
    val offenders = mainSources.collect { case (f, text) if text.contains(".limit(1).count()") => f }
    assert(offenders.isEmpty, s"limit(1).count() probes in: ${offenders.sorted.mkString(", ")}")
  }

  test("engine code decodes and encodes images on in-memory ImageIO streams only") {
    // ImageIO.read/write and createImage{Input,Output}Stream use ImageIO's
    // default cache, a temp file in java.io.tmpdir for every record; the
    // media path builds MemoryCacheImage{Input,Output}Streams itself
    val banned = Seq("ImageIO.read(", "ImageIO.write(",
      "ImageIO.createImageInputStream(", "ImageIO.createImageOutputStream(")
    val offenders = mainSources.flatMap { case (f, text) =>
      banned.filter(text.contains).map(c => s"$f: $c")
    }
    assert(offenders.isEmpty, s"file-cached ImageIO calls: ${offenders.mkString(", ")}")
  }

  test("GraftSql builds no SQL text from statement fragments") {
    // Spark parses each statement; GraftSql routes the plan and builds the
    // catalog's frames from its nodes, so no cut of the text is re-spliced
    // into a new statement
    val (_, text) = mainSources.find(_._1 == "GraftSql.scala").get
    assert(!text.contains("spark.sql(s\""), "GraftSql.scala splices SQL text into spark.sql")
  }
}
