package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.functions.Registry

/** Deduplication operators for large-scale document corpora.
  *
  * Four families, all shuffle-bounded and skew-aware by construction:
  *
  *  - exact:   one hash shuffle on the content digest.
  *  - jaccard: every pair of gram sets at or above a Jaccard threshold,
  *    exactly — prefix-filtered candidates (an equi-join on each
  *    document's rarest grams) and a merge-scan verify.
  *  - minhash: signature per doc (map-only) → band buckets (equi-join
  *    shuffle on (band, bucket-hash)) → candidate pairs. The streaming
  *    near-dup flags bucket on the same band key.
  *  - embedding: random-hyperplane bucket per vector (map-only) →
  *    bucket equi-join → exact cosine verify.
  *
  * Scale notes (100 TB): every candidate generator is an equi-join on a
  * small key, so AQE's skew-join splitting handles pathological buckets
  * (e.g. boilerplate documents sharing a band).
  */
object Dedup {

  /** One row per distinct content digest with the representative (minimum)
    * id and the duplicate count. Single hash-shuffle on the digest.
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Input rows filtered to one representative (lowest id) per exact
    * content duplicate group.
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact dedup of a new batch AGAINST a reference corpus (the
    * incremental-ingest shape: "drop anything we already have") with a
    * bloom-filter prefilter so the expensive exact verification only
    * touches probable duplicates.
    *
    * Result is IDENTICAL to the plain anti join — a bloom filter has no
    * false negatives, so rows it rejects are definitely new and skip the
    * join entirely; rows it accepts (true dups + ~fpp of the rest) are
    * verified with an exact anti join on the full text. The scale win:
    * only the accepted fraction shuffles into the join, so for a mostly
    * -novel batch the anti join shrinks by ~(1 - dupRate - fpp).
    *
    * Scale shape (100 TB): the sketch is built distributively (partial
    * bitsets merged; one driver-sized bitset, ~1.2 GB per billion keys
    * at 1% fpp — size expectedItems/fpp accordingly) and rides to
    * executors as a plan literal; the probe is a codegen'd expression,
    * not a UDF. The verify join keys on the text digest's hash shuffle
    * and AQE picks broadcast when the candidate set is small.
    */
  def dedupAgainstReference(newDf: DataFrame, refDf: DataFrame,
                            textCol: String, expectedItems: Long,
                            fpp: Double = 0.01): DataFrame = {
    val dig = xxhash64(col(textCol))
    val bloom = refDf.select(Registry.bloomAgg(dig, expectedItems, fpp).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    // an empty reference aggregates to a null sketch; nothing can be a
    // duplicate of an empty corpus, so every new row passes through
    // (a null literal would otherwise null out BOTH filter branches and
    // silently drop the whole batch)
    if (bloom == null) return newDf
    val might = Registry.bloomMightContain(lit(bloom), dig)
    val definitelyNew = newDf.filter(!might)
    val verified = newDf.filter(might)
      .join(refDf.select(col(textCol)).distinct(), Seq(textCol), "left_anti")
    definitelyNew.unionByName(verified.select(newDf.columns.map(col).toSeq: _*))
  }

  /** MinHash signature per document: (id, sig array<long>). Map-only.
    * Shingles are hashed numerically (token hashes → rolling window
    * hashes) — same set semantics as string k-shingles without
    * materializing shingle strings.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, shingleK: Int = 5,
                        seed: Long = Registry.DefaultSeed): DataFrame =
    df.select(
      col(idCol),
      call_function("minhash_sig",
        call_function("window_hashes",
          TextOps.tokenHashes(col(textCol)), lit(shingleK)),
        lit(numHashes), lit(seed)).as("sig"))

  /** LSH-banded candidate pairs: (id_a, id_b) with id_a < id_b for every
    * pair agreeing on at least one band of the MinHash signature. The
    * probability a pair with true Jaccard j becomes a candidate is
    * 1 - (1 - j^rows)^bands — size the banding so it is ~1 at the target
    * similarity. Never materializes a cross join: one equi-join on the
    * (band, bucket-hash) key.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, bands: Int = 16, shingleK: Int = 5,
                        seed: Long = Registry.DefaultSeed): DataFrame = {
    val banded = minhashSignatures(df, idCol, textCol, numHashes, shingleK, seed)
      .select(col(idCol).as("id"), bandBuckets(col("sig"), numHashes, bands))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bhash") === col("b.bhash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** The LSH band key of a MinHash signature: a generator of one
    * (band, bhash) row per band, bhash = xxhash64 of the band number and
    * the band's slice of the signature. The batch [[minhashCandidates]]
    * and the streaming `Events.streamingNearDupFlags` both bucket on it,
    * so the two agree on every candidate by construction.
    */
  private[graft] def bandBuckets(sig: Column, numHashes: Int, bands: Int): Column = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    posexplode(transform(
      sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, slice(sig, b * lit(rows) + 1, lit(rows)))))
      .as(Seq("band", "bhash"))
  }

  /** All pairs from a fingerprint frame (id, sh: long) within Hamming
    * distance maxHamming, via chunk-equality candidate generation +
    * bit_count(xor) verify. Pigeonhole recall contract: maxHamming bit
    * errors dirty at most maxHamming of the `chunks` equal-width chunks,
    * so a clean (equal) chunk exists iff maxHamming <= chunks - 1 —
    * ENFORCED, because running past the guarantee silently drops
    * legitimate pairs (round-1 d03 did exactly that at maxHamming=12
    * over 4 chunks).
    *
    * Scale trade-off: more chunks widen the guarantee but shrink the key
    * space (64/chunks bits), so buckets grow ~N/2^(64/chunks) and
    * candidate volume rises toward quadratic — chunks=4 (16-bit keys,
    * h<=3) is the 100 TB setting; chunks=8 (8-bit keys, h<=7) suits
    * corpora where a coarser key times N is still small, or high-dup
    * batches already reduced by exact dedup.
    */
  def fingerprintPairs(fp: DataFrame, maxHamming: Int, chunks: Int = 4): DataFrame = {
    require(chunks > 0 && 64 % chunks == 0, s"chunks must divide 64, got $chunks")
    require(maxHamming <= chunks - 1,
      s"recall guarantee needs maxHamming <= chunks - 1 (got maxHamming=$maxHamming, chunks=$chunks)")
    val bitsPer = 64 / chunks
    val mask = if (bitsPer == 64) -1L else (1L << bitsPer) - 1
    val chunked = fp.select(col("id"), col("sh"),
      posexplode(array((0 until chunks).map(c =>
        shiftright(col("sh"), c * bitsPer).bitwiseAND(lit(mask))): _*))
        .as(Seq("chunk", "cval")))
    chunked.as("a")
      .join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.cval") === col("b.cval") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      // verify BEFORE the dedup: bit_count is codegen'd per collision row
      // (cheap), while distinct shuffles its whole input — filtering
      // first shrinks the dedup to the accepted pairs only (~12x at
      // sf0.1, where multi-chunk collisions dominate the raw join)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Every document pair whose word `shingleK`-gram sets have Jaccard
    * >= `threshold`, with the exact value. Output: (id_a, id_b, jaccard)
    * with id_a < id_b.
    *
    * Gram sets are those of [[TextOps.shingles]], distinct per document:
    * a text shorter than k words is one whole-text gram, a text with no
    * word token is one empty gram of its own, and a null text has no set
    * and pairs with nothing. Grams travel as their
    * [[TextOps.shingleHashes]] longs, so values are exact up to a 64-bit
    * gram-hash collision (the d02–d04 oracles re-derive them from gram
    * strings).
    *
    * Candidates come from prefix filtering (AllPairs/PPJoin). Order all
    * grams globally by (document frequency, gram), rarest first. If
    * J(x, y) >= t then |x ∩ y| >= t·|x|, so x and y share a gram among
    * the first |x| − ⌈t·|x|⌉ + 1 grams of x and the first
    * |y| − ⌈t·|y|⌉ + 1 of y; and J <= min/max bounds the sizes,
    * t·|x| <= |y| <= |x|/t. The plan is one document-frequency count, one
    * per-document sort that yields both the prefix and the sorted set, one
    * equi-join on the prefix gram under the size bound, a pair dedup, and
    * the `jaccard_sorted` merge-scan verify. Rare grams go first, so a hot
    * (boilerplate) gram only enters the join through documents made of
    * nothing rarer, and at t = 0.9 a prefix is about a tenth of its set.
    *
    * Both filters run at t·(1 − 1e-12), not t: the verify compares the
    * DOUBLE inter/union with t, which rounds a real 9/10 up to the double
    * 0.9, and a double product n·t may round up across an integer (at
    * t = 9/11, 77·t is 63.00000000000001, so ⌈77·t⌉ = 64 could miss a
    * 63-gram set inside a 77-gram one, at J = t exactly). The slack can
    * only lengthen a prefix or widen the size bound, so it adds candidates
    * that the exact verify drops, never loses a pair.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleK: Int, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaccardPairs threshold must be in (0, 1], got $threshold")
    val lo = threshold * (1 - 1e-12)
    // WindowHashes gives a text with no word token no gram, where the
    // string grams give it the empty one
    val grams = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("toks"))
      .select(col("id"), explode(array_distinct(
        when(size(col("toks")) === 0, array(lit(EmptyTextGram)))
          .otherwise(TextOps.shingleHashesOfTokens(col("toks"), shingleK)))).as("g"))
    // the frequency as a window over the gram, not an aggregate joined
    // back: one scan and one shuffle of the (id, gram) rows instead of
    // two and two (measured at sf0.1 on local[4]: 1.2 → 0.9 s for d02 and
    // d03). Then one row per document with its grams in the global (f, g)
    // order: the prefix is read off the head, and the set, sorted once,
    // feeds the verify
    val docs = grams.withColumn("f", count(lit(1)).over(Window.partitionBy(col("g"))))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("f"), col("g")))).as("fg"))
      .select(col("id"), size(col("fg")).as("n"),
        slice(col("fg.g"), lit(1),
          size(col("fg")) - ceil(size(col("fg")) * lo).cast("int") + 1).as("prefix"),
        sort_array(col("fg.g")).as("sh"))
      .localCheckpoint(true)
    val prefixes = docs.select(col("id"), col("n"), explode(col("prefix")).as("g"))
    val cand = prefixes.as("a")
      .join(prefixes.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
          col("b.n") >= col("a.n") * lo && col("a.n") >= col("b.n") * lo)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // measured-size broadcast gate: a small set frame keeps the pair
    // stream map-side through both attach joins
    val sets = graft.api.FrameStats.broadcastIfSmall(docs.select(col("id"), col("sh")))
    cand
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        call_function("jaccard_sorted", col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The gram of a text with no word token in [[jaccardPairs]]. Any fixed
    * long serves; like every gram hash it is exact up to a collision.
    */
  private val EmptyTextGram: Long = 0x6a09e667f3bcc908L

  /** Global first-occurrence segment deduplication (C4/CCNet-style line
    * dedup, generalized over the delimiter): split every document into
    * segments, keep each distinct segment only at its first occurrence
    * across the whole corpus — "first" = lexicographic minimum of
    * (id, position) — and reassemble the surviving segments per document
    * in their original order. Documents whose every segment was seen
    * earlier come back as the empty string (they remain in the output).
    * Production use is delim="\n" (drop boilerplate lines repeated across
    * pages); any literal delimiter works. Null text is treated as having
    * no segments (returns "").
    *
    * Scale shape (100 TB): deliberately NOT the row_number()-window
    * formulation — a window partitioned by segment must sort entire
    * per-segment partitions, and ubiquitous segments ("the", footer
    * boilerplate) make those partitions pathological. Instead:
    *   1. groupBy(segment).agg(min(struct(id, pos))) — partial (map-side)
    *      aggregation collapses hot segments to one row per task before
    *      the shuffle, so segment skew never reaches the network;
    *   2. left-semi join of the exploded rows against the winners on the
    *      UNIQUE (segment, id, pos) triple — shuffle distribution is by
    *      the composite key hash, perfectly spread regardless of how hot
    *      any one segment is;
    *   3. groupBy(id) to reassemble — keys are document ids, naturally
    *      balanced.
    * Three shuffles, none skewed; AQE free to broadcast the winners side
    * when the corpus is small.
    */
  def dedupSegments(df: DataFrame, idCol: String, textCol: String,
                    delim: String = "\n"): DataFrame = {
    // literal-delimiter split (regex-quoted) so the semantics line up
    // with external engines' literal string_split
    val segs = df.select(col(idCol).as("__id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim)))
        .as(Seq("__pos", "__seg")))
    val firsts = segs.groupBy(col("__seg"))
      .agg(min(struct(col("__id"), col("__pos"))).as("__first"))
      .select(col("__seg").as("__fseg"),
        col("__first.__id").as("__fid"), col("__first.__pos").as("__fpos"))
    val kept = segs.join(firsts,
      col("__seg") === col("__fseg") && col("__id") === col("__fid") &&
        col("__pos") === col("__fpos"), "left_semi")
    val rebuilt = kept.groupBy(col("__id"))
      .agg(concat_ws(delim,
        transform(array_sort(collect_list(struct(col("__pos"), col("__seg")))),
          x => x.getField("__seg"))).as("__text"))
    df.select(col(idCol).as("__id")).join(rebuilt, Seq("__id"), "left")
      .select(col("__id").as(idCol), coalesce(col("__text"), lit("")).as(textCol))
  }

  /** Content-defined chunk dedup (d21): split every document at Rabin
    * rolling-hash boundaries (`cdc_chunks` — [[graft.functions.CdcChunks]],
    * boundary wherever the 8-char window hash ≡ div−1 (mod div), expected
    * chunk ≈ div chars) and group the chunk DIGESTS that recur across
    * documents. Because the boundaries are content-defined, an insertion
    * or deletion shifts at most one chunk before the window re-syncs —
    * the shift-robust complement to [[dedupSegments]]'s delimiter
    * segmentation for training-corpus dedup (a near-copy with one added
    * sentence still shares every chunk outside the edit's chunk).
    *
    * Scale shape: chunking is a map-only codegen'd expression (one pass,
    * no shuffle); chunks leave the map stage only as (md5 digest, id) —
    * never chunk text — into one digest-keyed aggregation with map-side
    * combine. `minLen` drops sub-threshold chunks (short chunks recur by
    * chance and carry no dedup signal) BEFORE the digest is computed.
    * Output: one row per digest shared by >1 distinct document —
    * (chunk_hash, n_docs, n_occurrences, first_doc), volume bounded by
    * recurring content, not corpus size.
    */
  def cdcChunkGroups(df: DataFrame, idCol: String, textCol: String,
                     div: Long = 64L, minLen: Int = 32): DataFrame = {
    Registry.registerAll(df.sparkSession)
    val chunks = df.select(col(idCol).as("__id"),
        explode(expr(s"cdc_chunks($textCol, ${div}L)")).as("__chunk"))
      .filter(length(col("__chunk")) >= minLen)
      .select(col("__id"), md5(col("__chunk")).as("chunk_hash"))
    chunks.groupBy(col("chunk_hash"))
      .agg(count_distinct(col("__id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("__id")).as("first_doc"))
      .filter(col("n_docs") > 1)
  }

  /** Embedding near-duplicate pairs: random-hyperplane bucket join +
    * exact cosine verify. Output: (id_a, id_b, cosine).
    */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
                     bits: Int = 16, threshold: Double = 0.9,
                     seed: Long = Registry.DefaultSeed): DataFrame = {
    val b = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"),
      call_function("sign_bits", col(vecCol), lit(bits), lit(seed)).as("bucket"))
    b.as("a").join(b.as("bb"),
        col("a.bucket") === col("bb.bucket") && col("a.id") < col("bb.id"))
      .select(col("a.id").as("id_a"), col("bb.id").as("id_b"),
        call_function("cosine_sim", col("a.v"), col("bb.v")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Banded random-hyperplane LSH near-duplicate pairs: `bands`
    * independent sign-bit keys of `rowBits` hyperplanes each (seeded
    * `seed + band`), one equi-join on (band, key), candidate dedup, then
    * exact cosine verification — the embedding analog of
    * [[minhashCandidates]], replacing the single-bucket [[embeddingPairs]]
    * when recall at the target threshold must be ~1.
    *
    * A pair at cosine c matches one band with probability
    * p(c)^rowBits where p(c) = 1 - acos(c)/pi, so candidate recall is
    * 1 - (1 - p(c)^rowBits)^bands. The defaults (12, 48) give a c=0.94
    * pair 1 - 1.5e-6 recall while a random (c~0) pair collides on only
    * 48/2^12 = 1.2% of bands — candidates stay proportional to true
    * near-dups plus that floor. At larger n, grow rowBits ~ log2(n) to
    * hold per-bucket occupancy constant and add bands to restore recall:
    * the join stays a shuffle-partitioned equi-join, never a cross join.
    * Output: (id_a, id_b, cosine), id_a < id_b, cosine >= threshold.
    */
  def embeddingPairsBanded(df: DataFrame, idCol: String, vecCol: String,
                           rowBits: Int = 12, bands: Int = 48,
                           threshold: Double = 0.9,
                           seed: Long = Registry.DefaultSeed): DataFrame = {
    val v = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    // one sign_bits expression per band (seeds must be literals so the
    // hyperplanes are fixed at plan time); posexplode turns the static
    // array into (band, bhash) rows
    val bandArr = array((0 until bands).map(b =>
      call_function("sign_bits", col("v"), lit(rowBits), lit(seed + b))): _*)
    val banded = v.select(col("id"),
      posexplode(bandArr).as(Seq("band", "bhash")))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bhash") === col("b.bhash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(v.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(v.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        call_function("cosine_sim", col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Benchmark-decontamination flags: mark every document that shares at
    * least one word n-gram with an evaluation corpus (the standard
    * train-set contamination check before releasing a training corpus —
    * the eval side is the small, fixed benchmark set).
    *
    * Output: (idCol, n_contaminated BIGINT, flagged BOOLEAN) — the count
    * of DISTINCT document n-grams that appear anywhere in the eval set,
    * one row per input document (clean docs carry 0/false).
    *
    * Scale shape (100 TB): the eval gram set is small by definition —
    * built with one distinct-aggregation and BROADCAST to the join, so
    * the corpus side stays map-only (explode + broadcast-hash-join +
    * per-doc count, no corpus shuffle on grams; the only shuffle keys on
    * doc ids). `hashGrams = false` joins on gram STRINGS for
    * external-engine verifiability; `hashGrams = true` is the 100 TB
    * setting ([[TextOps.shingleHashes]]).
    */
  def contaminationFlags(docs: DataFrame, idCol: String, textCol: String,
                         evalDf: DataFrame, evalTextCol: String,
                         n: Int = 13, hashGrams: Boolean = false): DataFrame = {
    // hashGrams is the 100 TB setting: grams join as longs instead of
    // strings, slimming the broadcast and the probe (identical flags
    // modulo 64-bit collisions; string/hash equivalence spec-tested)
    def grams(c: Column): Column =
      if (hashGrams) array_distinct(TextOps.shingleHashes(c, n))
      else array_distinct(TextOps.shingles(c, n))
    val evalGrams = evalDf
      .select(explode(grams(col(evalTextCol))).as("g"))
      .distinct()
    val docGrams = docs.select(col(idCol).as("__id"),
      explode(grams(col(textCol))).as("g"))
    val hits = docGrams.join(broadcast(evalGrams), Seq("g"))
      .groupBy(col("__id")).agg(count(lit(1)).as("__n"))
    docs.select(col(idCol))
      .join(hits, col(idCol) === col("__id"), "left")
      .select(col(idCol),
        coalesce(col("__n"), lit(0L)).as("n_contaminated"),
        col("__n").isNotNull.as("flagged"))
  }

  /** Exact duplicated-span detection (the substring-dedup signal of Lee
    * et al., "Deduplicating Training Data Makes Language Models Better"):
    * for every document, how many of its k-token spans (every position, a
    * rolling window — NOT distinct shingles) also occur verbatim in at
    * least one OTHER document. High dup_frac marks boilerplate and
    * cross-document template reuse that whole-doc dedup misses.
    *
    * Spans are keyed by md5 of the space-joined token window, so an
    * external SQL engine re-derives identical keys (the verifiability
    * setting; at 100 TB swap in xxhash64 like [[TextOps.shingleHashes]]
    * to shuffle 8-byte keys instead of 32-hex strings — the shape is
    * unchanged). Two shuffles on the span digest (count distinct docs,
    * probe join back) + one on the doc id; never on raw text. Documents
    * shorter than k tokens have zero spans and report 0/0.
    *
    * Output: (idCol, n_spans, n_dup_spans), one row per input document.
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 16): DataFrame = {
    require(k >= 2, "span length must be >= 2 tokens")
    val toks = df.select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
    // sequence(1, n) descends when n < 1 — guard short docs to no spans
    val spans = toks.select(col(idCol),
        explode(when(size(col("__toks")) >= k,
            transform(sequence(lit(1), size(col("__toks")) - (k - 1)),
              i => md5(array_join(slice(col("__toks"), i, lit(k)), " "))))
          .otherwise(array().cast("array<string>"))).as("digest"))
    val dupDigests = spans.groupBy(col("digest"))
      .agg(count_distinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= 2)
      .select(col("digest"))
    val perDoc = spans.join(dupDigests, Seq("digest"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_dup_spans"))
    toks.select(col(idCol),
        when(size(col("__toks")) >= k, size(col("__toks")) - (k - 1))
          .otherwise(0).cast("long").as("n_spans"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
  }

  /** Exhaustive embedding near-duplicate pairs: every (id_a < id_b) pair
    * with cosine >= threshold, no bucketing. O(n²) BY DESIGN — this is
    * the exactness anchor for [[embeddingPairs]] (which trades recall for
    * an equi-join), usable directly on corpora small enough to pair
    * exhaustively (≲10⁵ vectors) and as the verification baseline in
    * recall tests. Spark plans it as a broadcast nested-loop join: the
    * smaller side broadcasts, the pair predicate `id_a < id_b` halves the
    * work, and the cosine expression is codegen'd.
    */
  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * assign every embedding to its nearest centroid, then prune within
    * each cluster any vector whose cosine to a LOWER-id cluster-mate
    * meets `threshold` — keep the min-id representative of every
    * near-duplicate group, never compare across clusters. Output: kept
    * (id, cell).
    *
    * Scale shape (the reason SemDeDup exists): centroids are broadcast
    * (k is bounded — callers derive them via [[graft.ops.Ivf]] or a
    * seeded sample), assignment is a map-side-combined argmin
    * (min(struct(dist, cell)) — the Pq.encode idiom, one row per id
    * reaches the shuffle), and the quadratic cosine check is confined to
    * single cells. k is the scale knob: sized so cells stay bounded
    * (~N/k rows), the intra-cell self-join never approaches corpus².
    * Deterministic: exact-distance centroid ties break toward the lower
    * cell id, so reruns and the DuckDB oracle agree row-for-row.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, cellCol: String, cvecCol: String,
                    threshold: Double): DataFrame = {
    val b = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val c = centroids.select(col(cellCol).cast("long").as("cell"),
      col(cvecCol).cast("array<double>").as("cv"))
    val d2 = aggregate(
      zip_with(col("v"), col("cv"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, e) => acc + e)
    val assigned = b.crossJoin(broadcast(c))
      .groupBy(col("id"))
      .agg(min(struct(d2.as("d"), col("cell"))).as("dc"),
        first(col("v")).as("v"))
      .select(col("id"), col("dc.cell").as("cell"), col("v"))
    val pruned = assigned.as("a").join(assigned.as("bb"),
        col("a.cell") === col("bb.cell") && col("a.id") < col("bb.id"))
      .filter(call_function("cosine_sim", col("a.v"), col("bb.v")) >= threshold)
      .select(col("bb.id").as("id")).distinct()
    assigned.join(pruned, Seq("id"), "left_anti")
      .select(col("id"), col("cell"))
  }

  def embeddingPairsExact(df: DataFrame, idCol: String, vecCol: String,
                          threshold: Double): DataFrame = {
    val b = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    b.as("a").join(b.as("bb"), col("a.id") < col("bb.id"))
      .select(col("a.id").as("id_a"), col("bb.id").as("id_b"),
        call_function("cosine_sim", col("a.v"), col("bb.v")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Edit-distance fuzzy duplicate pairs over a bounded text prefix —
    * the entity-resolution shape: BLOCK on cheap keys (head and tail of
    * the prefix, so an edit burst at either end still leaves one key
    * intact), equi-join within blocks, VERIFY survivors with exact
    * levenshtein. Output: (id_a, id_b, dist), id_a < id_b.
    *
    * Scale: two equi-joins on block keys + a distinct — candidate volume
    * is sum of block-bucket sizes squared, never corpus². The verify DP
    * is O(prefixLen²) per candidate, bounded by construction. Hot blocks
    * (boilerplate openings) are the skew risk: extend the key with a
    * length bucket or salt them.
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        prefixLen: Int = 64, blockLen: Int = 24,
                        maxDist: Int = 8): DataFrame = {
    require(blockLen <= prefixLen, "blockLen must not exceed prefixLen")
    // a non-numeric id would silently cast to NULL below, the a.id < b.id
    // predicate would never match, and the operator would return an empty
    // result with no error — fail loudly instead
    require(df.schema(idCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"editDistancePairs needs a numeric id column; '$idCol' is " +
        df.schema(idCol).dataType.simpleString)
    val p = df.select(col(idCol).cast("long").as("id"),
      substring(coalesce(col(textCol), lit("")), 1, prefixLen).as("pre"))
    val keyed = p
      .withColumn("headk", substring(col("pre"), 1, blockLen))
      .withColumn("tailk",
        expr(s"substr(pre, greatest(length(pre) - ${blockLen - 1}, 1))"))
    def block(key: String) = keyed.as("a").join(keyed.as("b"),
        col(s"a.$key") === col(s"b.$key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.pre").as("pre_a"), col("b.pre").as("pre_b"))
    block("headk").unionByName(block("tailk"))
      .distinct()
      .withColumn("dist", levenshtein(col("pre_a"), col("pre_b")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Exact n-gram CONTAINMENT pairs — the asymmetric dedup signal
    * Jaccard misses: a short document quoted verbatim inside a long one
    * has low Jaccard but containment ≈ 1 on the short side (the
    * excerpt/quotation case whole-doc near-dup passes over).
    * C(A→B) = |G_A ∩ G_B| / |G_A| over DISTINCT word `shingleK`-grams;
    * a pair is emitted when EITHER direction reaches `threshold`.
    * Output: (id_a, id_b, c_ab, c_ba), id_a < id_b, rounded to 6.
    *
    * Scale shape: candidates come from the inverted gram index — one
    * shuffle of (gram, id), an equi-join on the gram key, never
    * all-pairs. Join fan-out is Σ df(g)² over gram doc-frequencies, the
    * classic stop-gram hazard: `maxDocFreq` drops grams present in more
    * than that many documents before the join. Results then MISS pairs
    * whose overlap is exclusively ultra-common grams — exactness holds
    * whenever no gram exceeds the cap, which d17's exhaustive oracle
    * proves for the driver corpus. `hashGrams = true` is the 100 TB
    * setting (8-byte longs through the shuffle instead of gram strings).
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleK: Int = 5, threshold: Double = 0.5,
                       maxDocFreq: Long = 1000L,
                       hashGrams: Boolean = false): DataFrame = {
    val gramsCol =
      if (hashGrams) array_distinct(TextOps.shingleHashes(col(textCol), shingleK))
      else array_distinct(TextOps.shingles(col(textCol), shingleK))
    // materialize the posting list ONCE: tokenize+shingle+explode is the
    // CPU-heavy pass over the corpus, and three consumers reference it
    // (per-doc sizes, gram doc-frequencies, the capped self-join) — as a
    // lazy plan each would re-tokenize. The materialized volume is the
    // same order as the self-join's shuffle write, which is unavoidable;
    // with `hashGrams = true` (the 100 TB setting) rows are 16-byte
    // (id, hash) pairs.
    val g = df.select(col(idCol).cast("long").as("id"),
      explode(gramsCol).as("g"))
      .localCheckpoint(true)
    val sizes = g.groupBy(col("id")).agg(count(lit(1)).as("n"))
    // document frequency as an aggregate + join-back, NOT a window over
    // the gram column: the partial (map-side) count shrinks the df
    // shuffle to one row per distinct gram and skips the per-partition
    // sort a window needs; the capped frame keeps `g`'s partitioning,
    // so the posting self-join below adds no further exchange
    val rare = g.groupBy(col("g")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDocFreq).select(col("g"))
    val capped = g.join(rare, Seq("g"))
    val shared = capped.as("a").join(capped.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("id").as("id_a"), col("n").as("__na")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("__nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(col("shared").cast("double") / col("__na"), 6).as("c_ab"),
        round(col("shared").cast("double") / col("__nb"), 6).as("c_ba"))
      .filter(greatest(col("c_ab"), col("c_ba")) >= threshold)
  }

  /** TF-IDF-weighted SPARSE COSINE near-dup pairs — the lexical-weighting
    * complement of the set-based families: MinHash/Jaccard treat every
    * shingle equally, so boilerplate-heavy documents look alike; weighting
    * terms by tf·ln(N/df) down-weights boilerplate and surfaces pairs that
    * share *distinctive* vocabulary. cos(a,b) = Σ_shared w_a·w_b /
    * (‖w_a‖·‖w_b‖) over per-doc term-frequency vectors.
    *
    * Fixed-point discipline (t09): weights land in 1e3 fixed point BEFORE
    * any sum, so dot products and squared norms are order-free exact LONG
    * arithmetic (bounds: fp ≤ ~1e6 ⇒ fp² ≤ 1e12, × 1e4 terms ≪ 2^63) and
    * the final cosine is one fixed chain of correctly-rounded double ops —
    * bit-reproducible across engines and partitionings.
    *
    * Scale shape: one tokenize pass materialized once; candidates come
    * from the df-capped inverted term index (the d17 mechanics — shuffle
    * keys on terms, join fan-out Σdf², never all-pairs); the per-pair dot
    * product is computed INSIDE the posting self-join's aggregation, so
    * no candidate list is ever re-joined to raw text.
    * Output: (id_a, id_b, cos) with id_a < id_b and cos >= threshold,
    * cosine over the df-capped term subspace (exact when no term exceeds
    * the cap — same contract as containmentPairs).
    */
  def tfidfCosinePairs(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double = 0.5,
                       maxDocFreq: Long = 1000L,
                       gramN: Int = 3): DataFrame = {
    require(gramN >= 1, s"gramN must be >= 1, got $gramN")
    // word n-GRAM terms, not unigrams: over a small shared vocabulary
    // every unigram tf-vector points the same way (measured cos >= 0.5
    // for 76% of random pairs on the driver corpus); n-grams explode the
    // vocabulary so random pairs decorrelate while true near-dups stay
    // ~1. Larger n also collapses document frequencies, which bounds the
    // posting self-join's Σdf² fan-out — n = 3 measured ~10x cheaper
    // than n = 2 on the driver corpus at equal pair quality
    val toks = df.select(col(idCol).cast("long").as("id"),
      filter(split(lower(coalesce(col(textCol), lit(""))), "\\W+"),
        x => x =!= "").as("__toks"))
    val terms = toks.select(col("id"),
      explode(expr(
        s"""transform(slice(__toks, 1, greatest(size(__toks) - ${gramN - 1}, 0)),
           (t, i) -> array_join(slice(__toks, i + 1, $gramN), ' '))"""))
        .as("term"))
    val tf = terms.groupBy(col("id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val nDocs = df.select(col(idCol)).agg(count(lit(1)).cast("double").as("n_docs"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    // weighted postings, materialized ONCE: norms, the candidate join's
    // two sides, and the df-cap all read it
    val posted = tf.join(dfreq.filter(col("__df") <= maxDocFreq), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("id"), col("term"),
        round((col("tf") * log(col("n_docs") / col("__df").cast("double")))
          * 1e3).cast("long").as("fp"))
      .localCheckpoint(true)
    val norms = posted.groupBy(col("id"))
      .agg(sum(col("fp") * col("fp")).as("n2"))
    val dots = posted.as("a").join(posted.as("b"),
        col("a.term") === col("b.term") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(sum(col("a.fp") * col("b.fp")).as("dot"))
    dots
      .join(norms.select(col("id").as("id_a"), col("n2").as("__na")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("n2").as("__nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("dot").cast("double") /
          (sqrt(col("__na").cast("double")) * sqrt(col("__nb").cast("double"))))
          .as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Exact-substring dedup (d22): every MAXIMAL token run of length
    * ≥ `minRun` shared by two documents — the ExactSubstr family of
    * training-data dedup (find verbatim copied passages regardless of
    * surrounding context), run relationally instead of over a suffix
    * array. Catches the mid-document verbatim excerpt that BOTH
    * [[dedupSegments]] (the shared run need not cover whole delimiter
    * segments) and [[cdcChunkGroups]] (the run can be shorter than a
    * content-defined chunk) miss — spec-pinned with a planted fixture.
    *
    * Method: every length-`minRun` token window is an ANCHOR, identified
    * by its [[TextOps.shingleHashes]] window hash (8-byte longs through
    * the shuffle, never gram strings — the numeric-shingling rule). A
    * shared run of length R ≥ minRun matches anchors at R−minRun+1
    * consecutive positions on one (id_a, id_b, posA−posB) DIAGONAL, so
    * maximal runs are exactly the gap-and-islands of anchor matches per
    * diagonal: grp = posA − row_number() is constant within an island,
    * run_len = max(posA) − min(posA) + minRun. An exact token-slice
    * comparison then re-verifies every candidate run (the d03 verify
    * discipline), so a 64-bit window-hash collision fails LOUDLY (the
    * affected run drops and the strict oracle mismatches) instead of
    * silently inflating a run.
    *
    * Scale shape: one posting build (map-only, filtered to docs with
    * ≥ minRun tokens), one anchor-hash equi-join (shuffle ∝ posting, AQE
    * splits skewed anchors), one window + one aggregation keyed on
    * candidate pairs (∝ shared content, not corpus), and two lazy joins
    * back to token arrays confined to candidate docs. No all-pairs stage
    * anywhere. `maxAnchorFreq` guards the quadratic blow-up of an anchor
    * shared by many documents (boilerplate at corpus scale): any anchor
    * window occurring more often FAILS LOUDLY — dropping it would
    * silently break run maximality, so the cap is a refusal, not a
    * filter (the phraseSearch contract, not the containmentPairs one).
    *
    * Output: (id_a, id_b, start_a, start_b, run_len) with id_a < id_b,
    * 0-based token positions, one row per maximal run per diagonal
    * alignment (a passage repeated k times in doc B yields k rows).
    */
  /** Exact-substring dedup ACTION (d23): remove every duplicated token
    * run found by [[sharedRuns]] from all but its first occurrence — the
    * Lee et al. "ExactSubstr" FIX step (train on each passage once,
    * regardless of how many documents embed it). Keep policy: for every
    * shared run, the occurrence in the LOWEST doc id survives; all
    * occurrences in higher ids are cut (transitive chains resolve
    * naturally — a passage shared by docs 1, 2, 3 yields removal
    * intervals in 2 and 3 from their pairs with 1). Overlapping removal
    * intervals within one document merge before cutting (classic
    * gaps-and-islands on a running interval-end maximum), so nested or
    * staggered runs never double-cut or leave fragments.
    *
    * Scale shape: [[sharedRuns]]' candidate-confined pipeline plus one
    * interval-keyed window (∝ removal intervals, i.e. shared content),
    * one (id, pos) range-membership join of the token posting against
    * its own doc's merged intervals (equi-keyed on id; interval lists
    * per doc are tiny), and one per-doc ordered rebuild. Nothing scales
    * with corpus²; docs with no shared content pass through untouched.
    *
    * Output: (idCol, textCol, n_removed) — the rebuilt token text
    * (tokens re-joined with single spaces, [[TextOps.tokens]]
    * normalization: lowercased, punctuation collapsed) and the count of
    * removed tokens; every input doc appears exactly once.
    */
  def removeSharedRuns(df: DataFrame, idCol: String, textCol: String,
                       minRun: Int,
                       maxAnchorFreq: Option[Long] = None): DataFrame = {
    val runs = sharedRuns(df, idCol, textCol, minRun, maxAnchorFreq)
    // removal intervals land on the HIGHER id of each pair (id_a < id_b
    // by construction): [start_b, start_b + run_len). DISTINCT is
    // correctness, not hygiene: the same interval arrives once per
    // LOWER-id partner (a passage shared by docs 92 and 450 lands on
    // 2000450 twice), and duplicate (start, end) rows TIE in the
    // island pass's ORDER BY — the flag-computing window and the
    // running-sum window may then order the tied peers differently
    // (parallel sorts are not stable), splitting one island into two
    // and double-counting the removal (caught as a 1-in-N flake by the
    // round-18 full gate: n_removed 15 vs 30 on one doc). Deduping
    // removes every tie; merging is idempotent to duplicates anyway.
    val iv = runs.select(col("id_b").as("__id"),
      col("start_b").as("__s"), (col("start_b") + col("run_len")).as("__e"))
      .distinct()
    // merge overlapping/adjacent intervals per doc: an interval starts a
    // new island when its start exceeds the running max end of all
    // EARLIER intervals (start-ordered)
    val w = Window.partitionBy(col("__id")).orderBy(col("__s"), col("__e"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val merged = iv
      .withColumn("__isl",
        sum(when(col("__s") > coalesce(max(col("__e")).over(w),
          lit(Long.MinValue)), 1L).otherwise(0L))
          .over(Window.partitionBy(col("__id")).orderBy(col("__s"), col("__e"))
            .rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("__id"), col("__isl"))
      .agg(min(col("__s")).as("__s"), max(col("__e")).as("__e"))
      .groupBy(col("__id"))
      .agg(collect_list(struct(col("__s"), col("__e"))).as("__iv"))
    val toks = df.select(col(idCol).cast("long").as("__id"),
      TextOps.tokens(col(textCol)).as("__toks"))
    toks.join(merged, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        // null-text docs tokenize to null — surface as '' (the
        // dedupSegments contract for degenerate documents)
        coalesce(array_join(
          when(col("__iv").isNull, col("__toks")).otherwise(
            filter(col("__toks"), (t, i) => !exists(col("__iv"),
              v => i >= v.getField("__s") && i < v.getField("__e")))),
          " "), lit("")).as(textCol),
        coalesce(aggregate(col("__iv"), lit(0L),
          (acc, v) => acc + (v.getField("__e") - v.getField("__s"))),
          lit(0L)).as("n_removed"))
  }

  def sharedRuns(df: DataFrame, idCol: String, textCol: String,
                 minRun: Int,
                 maxAnchorFreq: Option[Long] = None): DataFrame = {
    require(minRun >= 2, s"minRun must be >= 2, got $minRun")
    // ids ride the anchor join (and removeSharedRuns' output!) as
    // longs — a non-integral id would cast to null and silently report
    // zero runs / null-id output, so refuse loudly (the knnJoin
    // contract; string ids: join a dense surrogate first)
    if (!Geo.integralType(df.schema(idCol).dataType))
      throw new IllegalArgumentException(
        s"sharedRuns id column '$idCol' must be an integral type " +
          s"(ids carry the anchor join as longs), got " +
          s"${df.schema(idCol).dataType} — map string ids to a " +
          "surrogate id first")
    // token arrays stay a LAZY plan on purpose: the posting pass and the
    // final verify joins each re-derive them from the source scan — two
    // cheap map passes — instead of pinning a corpus-sized checkpoint
    val toks = df.select(col(idCol).cast("long").as("__id"),
      TextOps.tokens(col(textCol)).as("__toks"))
    val posting = toks.filter(size(col("__toks")) >= minRun)
      .select(col("__id"), posexplode(TextOps.shingleHashesOfTokens(
        col("__toks"), minRun)).as(Seq("__pos", "__wh")))
    maxAnchorFreq.foreach { cap =>
      require(cap >= 2, "maxAnchorFreq must be at least 2")
      val hot = posting.groupBy(col("__wh"))
        .agg(count(lit(1)).as("__n")).filter(col("__n") > cap)
        .agg(count(lit(1)), max(col("__n"))).collect().head
      if (hot.getLong(0) > 0) throw new IllegalArgumentException(
        s"sharedRuns: ${hot.getLong(0)} anchor window(s) of $minRun tokens " +
          s"occur more than maxAnchorFreq=$cap times (worst: " +
          s"${hot.getLong(1)}) — boilerplate this common makes the " +
          "candidate join quadratic; dedup the boilerplate first (e.g. " +
          "dedupSegments/cdcChunkGroups) or raise the cap")
    }
    val m = posting.as("a").join(posting.as("b"),
        col("a.__wh") === col("b.__wh") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("__ia"), col("b.__id").as("__ib"),
        col("a.__pos").as("__pa"), col("b.__pos").as("__pb"),
        (col("a.__pos") - col("b.__pos")).as("__diag"))
    val w = Window.partitionBy(col("__ia"), col("__ib"), col("__diag"))
      .orderBy(col("__pa"))
    val runs = m.withColumn("__grp", col("__pa") - row_number().over(w))
      .groupBy(col("__ia"), col("__ib"), col("__diag"), col("__grp"))
      .agg(min(col("__pa")).as("start_a"), min(col("__pb")).as("start_b"),
        (max(col("__pa")) - min(col("__pa")) + minRun).cast("long")
          .as("run_len"))
    runs
      .join(toks.select(col("__id").as("__ia"), col("__toks").as("__ta")),
        "__ia")
      .join(toks.select(col("__id").as("__ib"), col("__toks").as("__tb")),
        "__ib")
      .filter(slice(col("__ta"), col("start_a") + 1, col("run_len")) ===
        slice(col("__tb"), col("start_b") + 1, col("run_len")))
      .select(col("__ia").as("id_a"), col("__ib").as("id_b"),
        col("start_a").cast("long").as("start_a"),
        col("start_b").cast("long").as("start_b"), col("run_len"))
  }

  /** Winnowing document fingerprints (d25 — Schleimer, Wilkerson &
    * Aiken, SIGMOD 2003; the MOSS algorithm, public): hash every
    * k-token gram, slide a window of `w` consecutive hashes, and keep
    * each window's MINIMUM — rightmost on ties, the paper's rule, which
    * guarantees at least one fingerprint per w grams while two
    * documents sharing a run of ≥ w + k − 1 tokens always share a
    * fingerprint (the detection guarantee exact dedup lacks and minhash
    * only approximates per-document).
    *
    * The rightmost-tie argmin rides ONE window pass by encoding the
    * tiebreak into the comparison key as ONE packed LONG:
    * `hash39 · 2²⁴ + (2²⁴ − pos)` — the min key is the min hash, and
    * among equal hashes the LARGEST position (an idea both engines
    * express identically, so the oracle mirrors it verbatim). The hash
    * is the first 10 hex chars of md5 (the cross-engine hash) parsed to
    * a long and folded to 39 bits, so key max = (2³⁹−1)·2²⁴ + 2²⁴−1 =
    * 2⁶³−1 — exactly the signed-long range, and an 8-byte shuffle key
    * where a string key would move 2× the bytes through the min-window
    * and every downstream exchange. Documents longer than 2²⁴ grams
    * refuse loudly per-row (chunk first). Leading truncated windows
    * select like full ones —
    * deterministic, documented divergence from the paper's
    * full-windows-only start.
    *
    * `maxDocFreq`: fingerprints appearing in more than this many
    * documents are DROPPED before any pairing — the paper's own answer
    * to boilerplate (MOSS ignores over-common fingerprints), and what
    * keeps the candidate join linear at 100 TB. Dropping is part of the
    * algorithm here, not a refusal.
    *
    * Output: (idCol, h, pos) — one row per selected fingerprint.
    * Scale shape: gram hashing and window selection are one map pass +
    * one per-document window (no corpus-wide shuffle until the caller's
    * fingerprint join); DISTINCT collapses windows that picked the same
    * gram.
    */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 3, w: Int = 4,
                            maxDocFreq: Option[Int] = Some(64)): DataFrame = {
    require(k >= 1 && w >= 2, s"need k >= 1 and w >= 2, got k=$k w=$w")
    val toks = df.select(col(idCol),
      TextOps.tokens(coalesce(col(textCol), lit(""))).as("__toks"))
    val grams = toks
      .filter(size(col("__toks")) >= k)
      .select(col(idCol), posexplode(expr(
        s"""transform(sequence(1, size(__toks) - ${k - 1}),
            i -> CAST(conv(substring(md5(concat_ws(' ',
                   slice(__toks, i, $k))), 1, 10), 16, 10) AS BIGINT)
                 % ${1L << 39}L)"""))
        .as(Seq("__p0", "__h")))
      .select(col(idCol), (col("__p0") + 1).cast("long").as("__pos"),
        col("__h"))
    val posCap = 1L << 24
    val key = col("__h") * lit(posCap) +
      when(col("__pos") < posCap, lit(posCap) - col("__pos"))
        .otherwise(raise_error(lit(
          s"winnowing: document exceeds $posCap grams — chunk it first")))
    val win = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(-(w - 1), 0)
    val fp = grams.withColumn("__key", min(key).over(win))
      .select(col(idCol), shiftright(col("__key"), 24).as("h"),
        (lit(posCap) - (col("__key") % lit(posCap))).as("pos"))
      .distinct()
    maxDocFreq match {
      case None => fp
      case Some(cap) =>
        require(cap >= 1, s"maxDocFreq must be >= 1, got $cap")
        val hot = fp.select(col(idCol), col("h")).distinct()
          .groupBy(col("h")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") > cap).select(col("h"))
        fp.join(hot, Seq("h"), "left_anti")
    }
  }
}
