package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * All variants are shuffle-minimal by construction:
  *  - exact dedup is one hash-aggregate on a fingerprint (map-side partial
  *    aggregation collapses duplicates before the shuffle);
  *  - MinHash/LSH banding turns the O(n²) pair space into a self-join on
  *    band buckets, i.e. one shuffle keyed by (band, bucket-hash);
  *  - SimHash groups by a 64-bit signature (near-dups land in equal or
  *    Hamming-close signatures).
  *
  * Everything is built from codegen'd `functions._` array expressions — no
  * UDFs, no driver-side collections — so each stage survives a 100× scale-up
  * as plain map + one keyed shuffle.
  */
object Dedup {

  /** Serializes [[contaminationHitsBloom]] builds: they floor-and-restore
    * session-global optimizer conf around the aggregate.
    */
  private val bloomBuildLock = new Object

  /** Exact dedup: fingerprint groups with keep-first semantics.
    * Returns one row per distinct value of `textCol` with the surviving id
    * and the duplicate count (the "keep newest/first version per key" shape
    * the reference's UPDATE-in-place sink becomes in append-only form,
    * SURVEY.md §2.8).
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup keeping the latest version per natural key (window form —
    * used when rows carry versions, e.g. merge output compaction).
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], versionCol: String): DataFrame =
    latestPerKeyOrdered(df, keys, Seq(col(versionCol).desc))

  /** As [[latestPerKey]] but with an explicit ordering (pass a tiebreak
    * column after the version to make the survivor deterministic when
    * versions collide).
    */
  /** URL-keyed dedup (late r10) — the CommonCrawl-style FIRST pass: many
    * crawls of one page differ only by URL decoration (scheme case,
    * default port, tracking params, trailing slash), so canonicalize
    * ([[TextAnalysis.canonicalizeUrl]], the q_text_canon_url rule chain)
    * and keep ONE doc per canonical URL by the caller's preference order
    * (quality, recency — make it total; [[latestPerKeyOrdered]] appends
    * no tiebreak of its own). Runs BEFORE content dedup: a keyed window,
    * no signatures, no joins — the cheap 30–50% cut on raw crawl data.
    * The canonical URL stays on the output (`canonCol`) for downstream
    * domain stats.
    */
  def dedupByUrl(df: DataFrame, urlCol: String, prefer: Seq[Column],
                 canonCol: String = "url_canon"): DataFrame =
    latestPerKeyOrdered(
      df.withColumn(canonCol, TextAnalysis.canonicalizeUrl(col(urlCol))),
      Seq(canonCol), prefer)

  def latestPerKeyOrdered(df: DataFrame, keys: Seq[String], ordering: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Word n-gram shingles of a text column (lowercased, whitespace-split).
    * Empty tokens are dropped before shingling; a text shorter than `n`
    * words yields an empty array (no truncated tail shingles).
    *
    * Native one-pass form ([[graft.expressions.NgramOps]]): the equivalent
    * `array_distinct(transform(sequence(...), i => concat_ws(slice(...))))`
    * HOF chain runs on Spark's interpreted expression path and was the
    * entire cost of the decontamination scan (~14 µs/doc); the static call
    * is ~5× faster with byte-identical output.
    */
  def shingles(textCol: Column, n: Int): Column =
    graft.expressions.TextHashExpressions.wordNgrams(textCol, n)

  /** MinHash signature: for each of k hash functions, the min over shingle
    * hashes. Hash family: xxhash64(shingle, seed_i) — deterministic.
    *
    * Expression form (array fold) — prefer [[minHashSignatures]] in hot
    * paths: higher-order array functions are evaluated interpreted (outside
    * whole-stage codegen), so the k× transform here is slow per row.
    */
  def minHashSignature(shingleCol: Column, k: Int): Column =
    array((0 until k).map { i =>
      array_min(transform(shingleCol, s => xxhash64(s, lit(i))))
    }: _*)

  /** MinHash signatures, fully codegen'd: posexplode tokens, hash each token
    * once, window-`lead` the next `shingleN-1` token hashes into the row, and
    * hash the tuple — a shingle's fingerprint without ever materializing the
    * shingle string (the array-HOF `shingles` form runs interpreted and is
    * the profiled bottleneck: ~1.2 ms/doc vs ~0.05 ms here). The window and
    * the signature aggregate share the hash-partitioning on `id`, so the
    * whole pipeline is ONE shuffle of (id, pos, token-hash) triples; k
    * `min(xxhash64(sh, i))` aggregates collapse map-side. `min` is
    * duplicate-insensitive, so repeated shingles need no `array_distinct`.
    * Hash family differs from [[minHashSignature]] (token-hash tuples vs
    * shingle strings) — both are valid MinHash families; collision behavior
    * is equivalent at 64 bits.
    */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, k: Int): DataFrame =
    shingleHashRows(df, idCol, textCol, shingleN)
      .groupBy("id")
      .agg(min(xxhash64(col("sh"), lit(0))).as("h0"),
        (1 until k).map(i => min(xxhash64(col("sh"), lit(i))).as(s"h$i")): _*)

  /** One row per (doc, shingle-hash): the codegen'd relational form of
    * [[shingles]] shared by the signature and verify stages. Duplicate
    * shingles within a doc survive here (set semantics are applied by the
    * consumer: `min` is duplicate-insensitive, verify uses `collect_set`).
    */
  private def shingleHashRows(df: DataFrame, idCol: String, textCol: String,
                              shingleN: Int): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        posexplode(filter(split(lower(col(textCol)), "\\s+"), w => w =!= "")))
      .select(col("id"), col("pos"), xxhash64(col("col")).as("th0"))
    val w = Window.partitionBy("id").orderBy("pos")
    val leads = (1 until shingleN).map(j => lead(col("th0"), j).over(w).as(s"th$j"))
    val withNext = toks.select(Seq(col("id"), col("th0")) ++ leads: _*)
    val complete = (1 until shingleN).map(j => col(s"th$j").isNotNull)
      .reduceOption(_ && _).getOrElse(lit(true))
    val sh = xxhash64((0 until shingleN).map(j => col(s"th$j")): _*)
    withNext.filter(complete).select(col("id"), sh.as("sh"))
  }

  /** MinHash + LSH banding candidate pairs.
    *
    * signature of k = bands*rowsPerBand hashes; each band's hash-column group
    * is hashed to a bucket; docs sharing any (band, bucket) become
    * candidates; exact Jaccard over shingle sets verifies. The band explode
    * costs `bands`× rows (small constant); the only shuffles are the
    * signature aggregation, the band-bucket self-join and the final
    * distinct — the classic scale path for 100 TB near-dedup.
    *
    * NOT a lazy plan builder: calling this runs the signature + banding
    * jobs eagerly and leaves the candidate-pair frame persisted (id pairs
    * only — tiny) until LRU eviction or `spark.catalog.clearCache()`.
    * The eager materialization is what lets the (unreused-exchange)
    * self-join and the verify stage share one signature computation.
    */
  def minHashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                        minJaccard: Double = 0.5,
                        maxBucketRows: Long = Guardrails.DefaultMaxBucketRows): DataFrame = {
    val k = bands * rowsPerBand
    // Signatures come from the native one-pass-per-row expression (no token
    // explode, no window, no aggregate — the signature stage shuffles
    // nothing). The band-bucket self-join references them on BOTH sides and
    // Spark does not reuse the exchange across them (verified in the plan) —
    // persist the signatures (k longs per doc, ~256 B/doc: tiny next to the
    // corpus; the same trade Spark ML's MinHashLSH makes) so the signature
    // map runs once, and free them as soon as the candidate pairs are
    // materialized below.
    val sigs = df.select(col(idCol).as("id"),
        graft.expressions.TextHashExpressions
          .minHashSignature(col(textCol), shingleN, k).as("sig"))
      .filter(col("sig").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Band-bucket join carries ONLY (band, bucket, id) — shingle arrays would
    // multiply the shuffle width by bands×; they re-attach to the (tiny)
    // candidate pair set below instead.
    val banded = sigs
      .select(col("id"), posexplode(array((0 until bands).map(b =>
        hash((b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => element_at(col("sig"), i + 1)): _*)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    // Pair generation as ONE bucket-keyed aggregate + a streamed explode
    // (r18, guide §1.2/§2.4): the former (band,bucket) SELF-JOIN shuffled
    // banded twice and needed a separate guardrail aggregate job before
    // it; grouping each bucket's ids instead yields the same a<b pair set
    // from a single exchange, with the degenerate-bucket guard fused into
    // the very pass that would otherwise go quadratic (boundedIds raises
    // before an oversized bucket emits one pair; rethrowBucketGuard keeps
    // the eager IllegalArgumentException contract). The per-position
    // slice+explode streams pairs — no bucket ever materializes its full
    // pair array in memory.
    // pairs is referenced three times below (two re-attach joins + candIds);
    // persisting it (id pairs only — tiny even at 100 TB) stops Spark from
    // re-running the signature aggregation once per reference. The cache
    // entry lives until LRU eviction or session end — long-lived sessions
    // calling this repeatedly should spark.catalog.clearCache() between runs.
    val buckets = banded.groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(col("id"))).as("__ids"))
    val guarded = Guardrails.boundedIds(col("__ids"), maxBucketRows,
      s"minHashCandidates(bands=$bands, rowsPerBand=$rowsPerBand)",
      "raise rowsPerBand (band-collision probability = jaccard^rowsPerBand) " +
        "or exact-dedup identical texts first")
    val pairs = buckets
      .select(col("__ids"), posexplode(guarded))
      .select(col("col").as("id_a"),
        explode(slice(col("__ids"), col("pos") + lit(2),
          greatest(size(col("__ids")) - col("pos") - lit(1), lit(0))))
          .as("id_b"))
      .filter(col("id_a") < col("id_b")) // drop duplicate-id self-pairs
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize now: pins the pair set, releases the signatures
    Guardrails.rethrowBucketGuard(pairs.count())
    sigs.unpersist()
    // Verify stage: semi-join the corpus down to candidate ids BEFORE
    // computing shingle sets — the expensive map runs over the (tiny)
    // candidate set, not the corpus, and never twice over everything.
    // Jaccard runs over shingle-HASH sets (codegen'd, fixed-width longs)
    // rather than shingle strings: identical up to 2^-64 collisions.
    val candIds = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id"))).distinct()
    val candSh = shingleHashRows(
        df.join(candIds.withColumnRenamed("id", idCol), Seq(idCol), "left_semi"),
        idCol, textCol, shingleN)
      .groupBy("id").agg(collect_set(col("sh")).as("sh"))
    pairs
      .join(candSh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(candSh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Oracle-portable MinHash+LSH candidate pairs: the [[minHashCandidates]]
    * pipeline shape with the hash family swapped from engine-private
    * xxhash64 to an md5-prefix family both Spark and DuckDB compute
    * bit-identically (`CAST('0x'||substr(md5(shingle||':'||j),1,8) AS
    * BIGINT)` — the proven q_cur_hash_split trick). The ENTIRE candidate
    * generation — shingling, k-way min-hash, banding, bucket self-join — is
    * therefore replayable by the SQL oracle, giving the LSH pipeline a
    * hash-green driver row instead of a rows-only count. Production paths
    * keep the native xxhash signatures (one pass per row, no shingle-string
    * materialization); this variant pays string md5s and a shingle explode,
    * but its SHUFFLE shape is identical: one signature aggregation keyed on
    * id, a banded id-only self-join, a distinct. Docs shorter than
    * `shingleN` tokens have no shingles and never pair (house convention).
    */
  def minHashCandidatesPortable(df: DataFrame, idCol: String, textCol: String,
                                shingleN: Int = 3, bands: Int = 4,
                                rowsPerBand: Int = 2,
                                maxBucketRows: Long = Guardrails.DefaultMaxBucketRows): DataFrame = {
    val k = bands * rowsPerBand
    // Shingle strings via the codegen'd posexplode + window-lead shape
    // ([[shingleHashRows]]'s trick with strings): the array-HOF form
    // (`explode(array_distinct(transform(sequence…)))`) runs interpreted
    // and dominated this query's profile. Duplicate shingles survive here —
    // `min` is duplicate-insensitive, so the signatures equal the oracle's
    // DISTINCT-shingle form. The window and the signature aggregate share
    // the hash-partitioning on `id`: one shuffle total before banding.
    val toks = df.select(col(idCol).as("id"),
      posexplode(filter(split(lower(col(textCol)), "\\s+"), w => w =!= "")))
    val w = Window.partitionBy("id").orderBy("pos")
    val parts = col("col") +: (1 until shingleN).map(j => lead(col("col"), j).over(w))
    val complete = (1 until shingleN).map(j => parts(j).isNotNull)
      .reduceOption(_ && _).getOrElse(lit(true))
    val shingled = toks
      .select(col("id"), concat_ws(" ", parts: _*).as("shingle"), complete.as("__ok"))
      .filter(col("__ok"))
    // Hash family j = 8-hex-char chunk (j mod 4) of md5(shingle:":"(j div 4))
    // — one md5 yields FOUR independent 32-bit values, so k functions cost
    // ceil(k/4) md5 evaluations per shingle, not k (md5 dominates this
    // query's cost; the chunks of one digest are independent by design of
    // the hash). The digests are projected once per row; the k min
    // aggregates read substrings of them.
    val nDigests = (k + 3) / 4
    val digested = shingled.select(Seq(col("id")) ++ (0 until nDigests).map(c =>
      md5(concat(col("shingle"), lit(s":$c"))).as(s"__d$c")): _*)
    def mh(j: Int): Column =
      min(conv(substring(col(s"__d${j / 4}"), 1 + 8 * (j % 4), 8), 16, 10)
        .cast("long"))
    // Persist + materialize the signatures before the self-join — the same
    // trade [[minHashCandidates]] makes: the band join references them on
    // BOTH sides and Spark does not reuse the exchange, so without the pin
    // the whole tokenize/shingle/md5 upstream runs twice more inside the
    // join (profiled ~3× the query's cost). k longs per doc — tiny. The
    // entry lives until LRU eviction or `spark.catalog.clearCache()`.
    val sigs = digested.groupBy("id")
      .agg(mh(0).as("h0"), (1 until k).map(j => mh(j).as(s"h$j")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigs.count() // fill the cache once, not racily from both join sides
    val banded = sigs.select(col("id"), explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          concat_ws(",", (0 until rowsPerBand)
            .map(r => col(s"h${b * rowsPerBand + r}").cast("string")): _*).as("sig"))
      }: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.sig").as("sig"))
    // Pair generation as one bucket-keyed aggregate + streamed explode,
    // guard fused into the pass — the minHashCandidates r18 shape (see
    // there for the reasoning); same a<b pair set, one shuffle, no
    // separate guardrail job.
    val buckets = banded.groupBy(col("band"), col("sig"))
      .agg(sort_array(collect_list(col("id"))).as("__ids"))
    val guarded = Guardrails.boundedIds(col("__ids"), maxBucketRows,
      s"minHashCandidatesPortable(bands=$bands, rowsPerBand=$rowsPerBand)",
      "raise rowsPerBand or exact-dedup identical texts first")
    val pairs = buckets
      .select(col("__ids"), posexplode(guarded))
      .select(col("col").as("id_a"),
        explode(slice(col("__ids"), col("pos") + lit(2),
          greatest(size(col("__ids")) - col("pos") - lit(1), lit(0))))
          .as("id_b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The minHashCandidates pin swap (code-review r12 — the portable twin
    // was missing it, so the sigs entry outlived every call): materialize
    // the tiny pair set, release the signature cache, return the pinned
    // pairs for the CALLER to unpersist once consumed (the dedupCorpus
    // convention).
    Guardrails.rethrowBucketGuard(pairs.count())
    sigs.unpersist()
    pairs
  }

  /** Oracle-portable SimHash: the per-bit-vote signature with the token
    * hash family swapped from engine-private xxhash64 to the md5-prefix
    * family DuckDB computes bit-identically (32-bit signature — the md5
    * prefix yields 32 usable bits). Same relational shape as the production
    * path's semantics: explode tokens (duplicates vote with their term
    * frequency, as in [[simHash]]), one hash per token, 32 vote aggregates
    * collapsing map-side in a single groupBy, bits assembled from the vote
    * signs. Ties (vote sum 0) clear the bit in both engines. Exists so the
    * token-hash → bit-vote → signature-assembly pipeline has a hash-green
    * driver row ([[minHashCandidatesPortable]]'s role, for SimHash).
    */
  def simHashPortable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        explode(filter(split(lower(col(textCol)), "\\s+"), w => w =!= "")).as("w"))
      .select(col("id"),
        conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long").as("h"))
    val votes = (0 until 32).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"v$b")
    }
    toks.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until 32).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash: 64-bit signature whose bits are the signs of the per-bit vote
    * over token hashes. Near-duplicate texts yield identical or
    * Hamming-close signatures; grouping by signature is then a plain
    * hash-aggregate.
    *
    * Expression form — prefer [[simHashSignatures]] in hot paths (higher-
    * order array functions run interpreted; the fold below re-walks the
    * token-hash array once per bit).
    */
  def simHash(textCol: Column): Column = {
    val tokens = filter(split(lower(textCol), "\\s+"), t => t =!= "")
    val hashes = transform(tokens, t => xxhash64(t))
    // For each bit: sum(+1/-1 votes) > 0 => bit set.
    val bits = (0 until 64).map { b =>
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(vote > 0, lit(1L).cast("long") * lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** SimHash signatures via the native one-pass-per-row expression
    * ([[graft.expressions.SimHashOps]]): tokenize + 64 bit-votes inside a
    * single StaticInvoke call from whole-stage codegen — no token explode,
    * no 64-buffer aggregate, NO shuffle for the signature stage. Values are
    * bit-identical to both [[simHash]] and the former explode + 64-sum
    * aggregate form (same per-token xxhash64, same vote rule). Docs with no
    * tokens are excluded (null signature), as before.
    */
  def simHashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        graft.expressions.TextHashExpressions.simHash(col(textCol)).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** SimHash dedup groups: docs sharing an identical 64-bit simhash.
    * Docs with no tokens (empty text) have no signature and are excluded.
    */
  def simHashGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simHashSignatures(df, idCol, textCol)
      .groupBy("simhash")
      .agg(count(lit(1)).as("n_docs"), min(col("id")).as("keep_id"))

  /** SimHash near-duplicate candidate pairs within a Hamming radius.
    *
    * Banding by pigeonhole: split the 64-bit signature into
    * `maxHamming + 1` contiguous bands — any pair within `maxHamming` bit
    * flips agrees exactly on at least one band, so candidates come from a
    * keyed self-join on (band, band-bits), never an all-pairs scan. The
    * exact Hamming distance (`bit_count(a XOR b)`) then filters the
    * candidates. Same 100 TB shape as MinHash banding: explode ×(h+1),
    * one shuffle keyed by band value. Like [[minHashCandidates]], this
    * runs eagerly and returns a persisted (tiny) pair frame.
    */
  def simHashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3,
                          maxBucketRows: Long = Guardrails.DefaultMaxBucketRows): DataFrame = {
    // Same exchange-reuse gap as minHashCandidates: the self-join computes
    // the 64-vote signature aggregation twice unless the (id, sig) frame —
    // 16 B/doc — is pinned. Freed once the pair set is materialized.
    val sigs = simHashSignatures(df, idCol, textCol)
      .select(col("id"), col("simhash").as("sig"))
    hammingNearDupPairs(sigs, maxHamming,
      s"simHashNearDupPairs(maxHamming=$maxHamming)", maxBucketRows)
  }

  /** Persist a SimHash dedup INDEX: one `(id, sig)` row per doc with at
    * least one token — 16 B/doc, constant in text size (the
    * [[minHashWriteIndex]] role for the Hamming family). The signature
    * is PARAMETER-FREE (fixed whitespace tokenizer + per-token xxhash64
    * bit votes), so unlike MinHash no parameters sidecar is needed:
    * banding is probe-TIME arithmetic, and any radius probes the same
    * stored signatures.
    */
  def simHashWriteIndex(df: DataFrame, idCol: String, textCol: String,
                        path: String): Unit =
    simHashSignatures(df, idCol, textCol)
      .withColumnRenamed("simhash", "sig")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)

  /** O(batch) SimHash index maintenance — the [[minHashAppendIndex]]
    * contract: signature the new batch (map-side native, no shuffle) and
    * append its rows; corpus text is never re-read. `batchTag` makes the
    * append EXACTLY-ONCE ([[graft.pipeline.BatchAppend]]): replayed
    * duplicate signature rows keep probes correct (pairs distinct) but
    * silently double the index and every probe join.
    */
  def simHashAppendIndex(newDocs: DataFrame, idCol: String, textCol: String,
                         path: String,
                         batchTag: Option[String] = None): Unit = {
    val spark = newDocs.sparkSession
    val rows = simHashSignatures(newDocs, idCol, textCol)
      .withColumnRenamed("simhash", "sig")
    batchTag match {
      case None =>
        rows.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(path)
      case Some(tag) =>
        val sig = graft.pipeline.BatchAppend.contentSig(newDocs,
          Seq(idCol, textCol))
        graft.pipeline.BatchAppend.exactlyOnce(spark, path, tag, sig,
          Seq(path)) {
          graft.pipeline.BatchAppend.appendBatchFiles(rows, path, tag)
        }: Unit
    }
  }

  /** Probe NEW documents against a persisted SimHash index within a
    * Hamming radius: both sides band by pigeonhole (maxHamming+1
    * disjoint bands — a pair within the radius agrees on at least one),
    * candidates come from the two-sided (band, bits) join — never
    * all-pairs — and exact `bit_count(a XOR b)` filters. Returns
    * `(new_id, corpus_id, hamming)`. Identical token MULTISETS yield
    * identical signatures (SimHash is a bag-of-tokens vote), so exact
    * text duplicates always surface at hamming 0 — the gate's pin.
    * Corpus text is never touched; the shuffle carries ids and longs
    * only.
    */
  def simHashProbeIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String, newDocs: DataFrame,
                        idCol: String, textCol: String, maxHamming: Int = 3,
                        maxBucketRows: Long = Guardrails.DefaultMaxBucketRows)
      : DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 31,
      s"simHashProbeIndex: maxHamming must be in [0,31], got $maxHamming")
    val idx = graft.pipeline.Tombstones.exclude(
      spark.read.parquet(path), path) // deleted docs never pair
    require(Seq("id", "sig").forall(idx.columns.contains),
      s"simHashProbeIndex: $path is not a SimHash index (want columns id, sig)")
    val nBands = maxHamming + 1
    val bandBits = 64 / nBands
    val bandMask = if (bandBits >= 64) -1L else (1L << bandBits) - 1 // the shift-mod-64 guard
    def banded(sigs: DataFrame, side: String) = sigs
      .select(col("id").as(side), col("sig").as(s"sig_$side"),
        posexplode(array((0 until nBands).map(b =>
          shiftrightunsigned(col("sig"), b * bandBits)
            .bitwiseAND(lit(bandMask))): _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bits"))
    val newSigs = simHashSignatures(newDocs, idCol, textCol)
      .withColumnRenamed("simhash", "sig")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpusBanded = banded(idx, "corpus_id")
    Guardrails.requireBoundedBuckets(corpusBanded, Seq("band", "bits"),
      maxBucketRows, s"simHashProbeIndex(maxHamming=$maxHamming)",
      "lower maxHamming (band width = 64/(maxHamming+1) bits) or " +
        "exact-dedup identical items before indexing")
    val res = banded(newSigs, "new_id")
      .join(corpusBanded, Seq("band", "bits"))
      .select(col("new_id"), col("corpus_id"),
        bit_count(col("sig_new_id").bitwiseXOR(col("sig_corpus_id")))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .localCheckpoint(true)
    newSigs.unpersist()
    res
  }

  /** Banded Hamming near-dup pairs over ANY 64-bit signature frame
    * `(id, sig)` — the [[simHashNearDupPairs]] core, shared with the
    * perceptual image-hash dedup ([[Multimodal.imageNearDupGroups]]):
    * by the pigeonhole principle two signatures within Hamming distance
    * h agree on at least one of h+1 disjoint bit bands, so candidates
    * come from a keyed self-join on (band, band-bits) — never all-pairs
    * — and exact `bit_count(a XOR b)` filters. Input is re-executed by
    * the self-join, so this pins it, materializes the (tiny) pair set,
    * and frees the pin (eager, the [[minHashCandidates]] contract).
    */
  def hammingNearDupPairs(sigFrame: DataFrame, maxHamming: Int, what: String,
                          maxBucketRows: Long = Guardrails.DefaultMaxBucketRows): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 31,
      s"$what: maxHamming must be in [0,31], got $maxHamming")
    val nBands = maxHamming + 1
    val bandBits = 64 / nBands
    // maxHamming=0 → one 64-bit band; (1L << 64) is a JVM shift-mod-64
    // no-op, so the mask must special-case the full width or every band
    // value collapses to 0 (one global bucket — code-review r10)
    val bandMask = if (bandBits >= 64) -1L else (1L << bandBits) - 1
    val sigs = sigFrame.select(col("id"), col("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // nBands is a driver constant, so the band array is unrolled literally —
    // keeps every shift amount a static Int (codegen-friendly).
    val banded = sigs.select(col("id"), col("sig"),
        posexplode(array((0 until nBands).map(b =>
          shiftrightunsigned(col("sig"), b * bandBits)
            .bitwiseAND(lit(bandMask))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bits")
    Guardrails.requireBoundedBuckets(banded, Seq("band", "bits"), maxBucketRows,
      what,
      "lower maxHamming (band width = 64/(maxHamming+1) bits) or exact-dedup " +
        "identical items first")
    val out = banded
      .select(col("band"), col("bits"), col("id").as("id_a"), col("sig").as("sig_a"))
      .join(banded.select(col("band"), col("bits"), col("id").as("id_b"), col("sig").as("sig_b")),
        Seq("band", "bits"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize the (tiny) pair set, then free the signatures
    sigs.unpersist()
    out
  }

  /** Near-duplicate GROUPS over any 64-bit signature column: null-signed
    * rows excluded (nothing to compare), banded Hamming candidates
    * ([[hammingNearDupPairs]]) + [[duplicateGroups]] components, singletons
    * re-attached as their own group — the shared grouping tail of the
    * SimHash text path and the perceptual image/audio hash paths.
    */
  def signatureNearDupGroups(df: DataFrame, idCol: String, hashCol: String,
                             maxHamming: Int, what: String): DataFrame = {
    // Pinned HERE, not just inside hammingNearDupPairs: the singleton
    // reattach below consumes the signature frame again AFTER the pair
    // stage freed its internal pin, and for the perceptual-hash callers
    // that frame embeds a full decode+hash pass over every payload —
    // re-execution doubles the codec work (code-review r10). The pin is
    // 16 B/row; release is LRU, the filterByClassifier accepted-residue
    // convention (the returned plan still reads it lazily).
    val sigs = df.filter(col(hashCol).isNotNull)
      .select(col(idCol).as("id"), col(hashCol).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = hammingNearDupPairs(sigs, maxHamming, what)
    val groups = duplicateGroups(pairs)
    sigs.select(col("id")).join(groups, Seq("id"), "left")
      .select(col("id"), coalesce(col("group_id"), col("id")).as("group_id"))
  }

  /** Duplicate-group resolution: connected components over a candidate-pair
    * edge list via min-label propagation WITH pointer jumping (the star-
    * contraction trick): each round first takes the min label over direct
    * neighbors (one edge hop), then rewrites every label to its label's own
    * label (`l(v) ← l(l(v))` — valid because labels only decrease and every
    * label is itself a node id, so the jump stays inside the component).
    * The hop alone needs diameter rounds on a chain; the jump doubles the
    * contracted distance per round, so convergence is O(log diameter) —
    * at 100 TB this is the difference between 3 and 40 shuffle rounds on
    * stringy components. Each doc's group id is the smallest doc id in its
    * component — the survivor under keep-min dedup. `localCheckpoint`
    * truncates the growing lineage so round N's plan doesn't replay rounds
    * 1..N-1.
    *
    * Returns (id, group_id) for every id that appears in `pairs`.
    *
    * Size-gated driver fallback (the broadcast-join decision applied to
    * components): when the directed edge list is at most `localEdgeLimit`
    * rows, iterating cluster rounds is all fixed overhead — a driver-side
    * union-find over the collected edges (≲16 MB at the 1M default, far
    * below one shuffle round's cost) computes the identical min-label
    * result in one action. Candidate-pair sets ARE usually this small
    * relative to the corpus (they're bounded by the near-duplicate count),
    * but the distributed loop remains the path the moment the bound is
    * exceeded — pass `localEdgeLimit = 0` to force it.
    */
  def duplicateGroups(pairs: DataFrame, maxIter: Int = 20,
                      localEdgeLimit: Long = 1L << 20): DataFrame =
    duplicateGroupsWithRounds(pairs, maxIter, localEdgeLimit)._1

  /** Driver-side union-find with min-id roots: union always hangs the
    * larger root under the smaller, so each tree's root IS the component
    * minimum and `find` after all unions yields the same (id, group_id)
    * mapping as converged min-label propagation. Generic in the id type;
    * `ord` must match Spark's `min` ordering for that type (see
    * [[utf8BinaryOrdering]] for strings).
    */
  private def localComponents[T](edges: Array[(T, T)])(
      implicit ord: Ordering[T]): Seq[(T, T)] = {
    val parent = scala.collection.mutable.HashMap.empty[T, T]
    def find(x: T): T = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ord.max(ra, rb)) = ord.min(ra, rb)
    }
    parent.keys.toSeq.map(k => k -> find(k))
  }

  /** Java String compareTo orders by UTF-16 code unit, which disagrees with
    * Spark's `min`/`least` on StringType (binary UTF-8 bytes) for
    * supplementary-plane code points — the driver fallback must pick the
    * SAME min root the distributed path would, so compare UTF-8 bytes
    * unsigned.
    */
  private val utf8BinaryOrdering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }
  }

  /** [[duplicateGroups]] plus the number of rounds it ran — the round count
    * is the observable the convergence-speed spec pins (⌈log₂ diameter⌉ +
    * detection overhead, not diameter). The driver fallback reports 0
    * rounds.
    */
  private[graft] def duplicateGroupsWithRounds(pairs: DataFrame,
                                               maxIter: Int = 20,
                                               localEdgeLimit: Long = 1L << 20): (DataFrame, Int) = {
    // Integral ids normalize to long so both paths emit one schema (and the
    // r≤6 callers keep their bigint output type); string ids stay strings —
    // an unconditional long cast would THROW under Spark 4 ANSI the moment a
    // caller feeds hash-string ids. Other id types (binary, struct, …) fail
    // loudly here rather than as a cast error ten operators deep.
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType, StringType, DataType}
    def classify(t: DataType): Boolean = t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case StringType => false
      case other => throw new IllegalArgumentException(
        s"duplicateGroups: id columns must be integral or string, got $other")
    }
    // BOTH sides decide the path: (long, string) pairs would otherwise pick
    // the integral branch from id_a alone and hit the deep ANSI cast error
    // this validation exists to front-run.
    val (ta, tb) = (pairs.schema("id_a").dataType, pairs.schema("id_b").dataType)
    val (ia, ib) = (classify(ta), classify(tb))
    require(ia == ib,
      s"duplicateGroups: id_a ($ta) and id_b ($tb) must be the same kind " +
        "(both integral or both string) — they label one id space")
    val integral = ia
    def norm(c: Column) = if (integral) c.cast("long") else c
    // Driver-fallback probe in ONE job (r18, guide §1.2 fewest passes):
    // the old form materialized a persisted directed-edge frame, counted
    // it, then collected it — three actions per call, paid by every
    // dedup family every run. `limit(n+1).collect()` bounds driver
    // memory exactly like the old count-gate (at most localEdgeLimit/2+1
    // undirected pairs ≈ the same ≲16 MB) and answers "small enough?"
    // and "give me the edges" in one pass; both directions are minted
    // driver-side. The distributed loop below stays the path the moment
    // the bound is exceeded.
    val pairLimit = (localEdgeLimit / 2).toInt
    // rethrowBucketGuard: duplicateGroups is where lazily-guarded pair
    // frames (the r18 fused LSH bucket guards) usually materialize first
    // — convert a guard trip into the guard's classic
    // IllegalArgumentException for every dedup caller.
    val probe = Guardrails.rethrowBucketGuard {
      if (localEdgeLimit > 0)
        pairs.select(norm(col("id_a")).as("src"), norm(col("id_b")).as("dst"))
          .limit(pairLimit + 1).collect()
      else Array.empty[org.apache.spark.sql.Row]
    }
    if (localEdgeLimit > 0 && probe.length <= pairLimit) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val out =
        if (integral) {
          val arr = probe.flatMap(r => Seq((r.getLong(0), r.getLong(1)),
            (r.getLong(1), r.getLong(0))))
          localComponents(arr).toDF("id", "group_id")
        } else {
          val arr = probe.flatMap(r => Seq((r.getString(0), r.getString(1)),
            (r.getString(1), r.getString(0))))
          localComponents(arr)(utf8BinaryOrdering).toDF("id", "group_id")
        }
      return (out, 0)
    }
    val edges = pairs.select(norm(col("id_a")).as("src"), norm(col("id_b")).as("dst"))
      .union(pairs.select(norm(col("id_b")).as("src"), norm(col("id_a")).as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Initialize at min(self, direct neighbors) — the first hop folded into
    // the init aggregate. One groupBy replaces a whole loop round (its
    // propagate join, two checkpoints, and sum action); star-shaped dup
    // groups then converge in a single detection round. Every node appears
    // as `src` (edges carry both directions), so coverage is identical to
    // the plain distinct-src init.
    var labels = Guardrails.rethrowBucketGuard(
      edges.groupBy(col("src").as("id"))
        .agg(min(col("dst")).as("__mn"))
        .select(col("id"), least(col("id"), col("__mn")).as("group_id"))
        .localCheckpoint(true))
    // Convergence detector, integral ids: per-id labels only ever decrease
    // and the id set is fixed, so an unchanged SUM of labels ⟺ no label
    // changed — a scalar aggregate per round instead of a join-and-compare
    // (decimal sum: 10B 2^40-sized ids would overflow a long). String ids
    // have no sum, so they pay the honest per-round detector: an equi-join
    // on id (both sides checkpointed, label-cardinality rows — node-scale,
    // not edge-scale) probing for any changed label.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("group_id").cast("decimal(38,0)"))).head().getDecimal(0)
    def sameLabels(next: DataFrame, prev: DataFrame): Boolean =
      next.as("n")
        .join(prev.select(col("id"), col("group_id").as("__pg")), Seq("id"))
        .filter(col("group_id") =!= col("__pg")).isEmpty
    var prevSum = if (integral) labelSum(labels) else null
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val propagated = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("group_id"))
      // checkpoint before the self-join: the jump reads `hop` twice (probe +
      // lookup side) — materializing once stops the aggregate from running
      // twice AND sidesteps self-join attribute rewriting over the union
      val hop = labels.unionByName(propagated)
        .groupBy("id").agg(min(col("group_id")).as("group_id"))
        .localCheckpoint(true)
      // pointer jump: follow each label to ITS label (left join is defensive
      // — every group_id is a node id present in `hop` by construction)
      val next = hop.as("x").join(
          hop.select(col("id").as("__gid"), col("group_id").as("__ggid")),
          col("group_id") === col("__gid"), "left")
        .select(col("id"), coalesce(col("__ggid"), col("group_id")).as("group_id"))
        .localCheckpoint(true)
      if (integral) {
        val s = labelSum(next)
        converged = s == prevSum
        prevSum = s
      } else converged = sameLabels(next, labels)
      labels = next
      iter += 1
    }
    edges.unpersist()
    // silent truncation would split real components AND diverge from the
    // oracle's exact recursive closure — fail loudly instead
    if (!converged) throw new IllegalStateException(
      s"duplicateGroups did not converge in $maxIter rounds — a component's " +
        s"contracted diameter exceeds maxIter; re-run with a larger maxIter")
    (labels, iter)
  }

  // ---------------------------------------------------------------------
  // Incremental component maintenance (late r16) — the warm-start story
  // for the DEDUP-GROUP family: at 100 TB every ingest batch appends
  // docs and candidate pairs, and recomputing connected components from
  // scratch per batch is O(corpus). The increment is EXACT and
  // O(batch) by contraction: the stored labels are a converged CC, so
  // each component is one supernode (its min-id root); mapping a new
  // batch's pair endpoints through the stored labels yields a TINY
  // contracted edge list (old roots + new ids), whose CC — solved by
  // the ordinary [[duplicateGroups]] machinery — tells exactly which
  // old components merge and where new ids land. Min labels compose:
  // old roots are their components' minima, so the contracted minimum
  // IS the merged component's global minimum. Unlike PageRank's
  // tolerance stop, there is no approximation anywhere.
  //
  // Storage follows the additive-index conventions: `path/labels`
  // appends one row per NEW id (never rewritten), `path/relabels`
  // appends one (old_root, new_root) row per MERGE EVENT (bounded by
  // the number of components ever merged, not by corpus size), and a
  // meta sidecar pins the id type. Lookup composes base labels with the
  // relabel chains resolved DISTRIBUTED by pointer doubling (r17 — no
  // driver map, no size cap; the relabel table is merge-event-scale, so
  // Catalyst broadcasts the composition join while it is small);
  // [[componentsCompactIndex]] folds the chains back into `labels` with
  // the staged swap. Single-writer, like every index-maintenance path
  // here; `batchTag` appends are exactly-once under foreachBatch replay.
  // ---------------------------------------------------------------------

  /** Build the component index at `path` from an initial pair set. */
  def componentsWriteIndex(pairs: DataFrame, path: String,
                           maxIter: Int = 20,
                           localEdgeLimit: Long = 1L << 20,
                           overwrite: Boolean = false): Unit = {
    val spark = pairs.sparkSession
    require(overwrite || !graft.pipeline.Sinks.exists(spark, s"$path/meta"),
      s"componentsWriteIndex: an index already exists at $path — use " +
        "componentsAppendIndex for new batches, or pass overwrite = true")
    val labels = duplicateGroups(pairs, maxIter, localEdgeLimit)
    labels.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/labels")
    import spark.implicits._
    Seq(Tuple1(labels.schema("id").dataType.typeName)).toDF("id_type")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/meta")
  }

  private def componentsMeta(spark: org.apache.spark.sql.SparkSession,
                             path: String, what: String): String = {
    val rows =
      try spark.read.parquet(s"$path/meta").select("id_type").collect()
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"$what: $path is not a component index (missing meta sidecar): " +
            e.getMessage)
      }
    require(rows.length == 1, s"$what: $path has a malformed meta sidecar")
    rows.head.getString(0)
  }

  /** The resolved relabel map as a DataFrame (__from, __to): merge-event
    * rows with their chains followed to the final root, DISTRIBUTED (r17,
    * VERDICT r16 §next-4 — replaces the 4M-capped driver map). Resolution
    * is pointer doubling: each round substitutes f ← f∘f by one
    * merge-event-scale self-join, so hop distance doubles and the loop
    * converges in ⌈log₂(longest chain)⌉ rounds. Termination is exact, not
    * heuristic: labels strictly DECREASE along a chain (every merge maps
    * an old root to a smaller new root), so the pointer graph is acyclic;
    * and each old_root appears in at most one merge event (events are
    * only ever recorded for currently-resolved roots), so the map is
    * functional and the fixpoint unique. No driver state at any size —
    * the id type also flows straight from the stored parquet, so integer-
    * keyed indexes resolve as naturally as string/long ones (ADVICE r16).
    * `emptyLike` supplies the (id-typed) schema when no relabels exist.
    */
  private def resolvedRelabels(spark: org.apache.spark.sql.SparkSession,
                               path: String,
                               emptyLike: DataFrame): DataFrame = {
    // "has relabels" = the dir holds at least one DATA file — a replayed
    // crash cleanup (BatchAppend.clearBatchFiles) can leave the dir
    // existing but empty, which a bare parquet read refuses to schema
    val rp = new org.apache.hadoop.fs.Path(s"$path/relabels")
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(rp) && fs.listStatus(rp).exists { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    if (!hasData)
      return emptyLike.select(col("group_id").as("__from"),
        col("group_id").as("__to")).limit(0)
    var rl = spark.read.parquet(s"$path/relabels")
      .select(col("old_root").as("__from"), col("new_root").as("__to"))
      .localCheckpoint(true)
    var moved = 1L
    while (moved > 0) {
      val step = rl.as("l")
        .join(rl.as("r"), col("l.__to") === col("r.__from"), "left")
        .select(col("l.__from").as("__from"),
          coalesce(col("r.__to"), col("l.__to")).as("__to"),
          col("r.__from").isNotNull.as("__moved"))
        .localCheckpoint(true)
      moved = step.filter(col("__moved")).count()
      rl = step.drop("__moved")
    }
    rl
  }

  /** Fold one batch of new candidate pairs into the index — O(batch):
    * contract the pair endpoints through the current labels, solve the
    * contracted CC, append labels for NEW ids and relabel rows for
    * merged old roots. Returns (newIds, mergeEvents).
    *
    * `batchTag` makes the append EXACTLY-ONCE (r17, VERDICT r16 §next-3):
    * label/relabel rows are additive, so a foreachBatch crash-replay
    * would duplicate label rows and double-record merges. Pass the
    * stream's batch id; a committed (tag, content) replays as a no-op
    * returning (0, 0), a colliding tag with different content fails
    * loudly, and a crash between the labels and relabels writes replays
    * to exactly one committed copy of both — the replay FIRST removes
    * the crashed attempt's partial files, so its recomputation reads the
    * same pre-batch state the crashed attempt saw
    * ([[graft.pipeline.BatchAppend]]).
    */
  def componentsAppendIndex(newPairs0: DataFrame, path: String,
                            maxIter: Int = 20,
                            localEdgeLimit: Long = 1L << 20,
                            batchTag: Option[String] = None): (Long, Long) = {
    val spark = newPairs0.sparkSession
    val idType = componentsMeta(spark, path, "componentsAppendIndex")
    // Match the stored key type up front (ADVICE r16): integral indexes
    // store LONG labels (duplicateGroups' normalization), so integral
    // batch ids WIDEN to long here — appending them raw would write
    // mixed-schema parquet into `labels`. A string/integral mismatch
    // fails loudly instead of as an ANSI cast error mid-plan.
    val newPairs = {
      import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType, StringType}
      val dts = Seq("id_a", "id_b").map(c => newPairs0.schema(c).dataType)
      if (idType == "string") {
        require(dts.forall(_ == StringType),
          s"componentsAppendIndex: the index at $path keys STRING ids; " +
            s"batch pairs are ${dts.map(_.typeName).mkString("/")}")
        newPairs0
      } else {
        require(dts.forall(d =>
            Seq[org.apache.spark.sql.types.DataType](ByteType, ShortType,
              IntegerType, LongType).contains(d)),
          s"componentsAppendIndex: the index at $path keys $idType ids; " +
            s"batch pairs are ${dts.map(_.typeName).mkString("/")}")
        newPairs0.select(col("id_a").cast("long").as("id_a"),
          col("id_b").cast("long").as("id_b"))
      }
    }
    // (newIds, merges), both eagerly materialized; reads the CURRENT
    // stored state, so it must run after any crashed-attempt cleanup
    def compute(): (DataFrame, DataFrame) = {
      val base = spark.read.parquet(s"$path/labels")
      val rl = resolvedRelabels(spark, path, base)
      def effective(side: String): DataFrame = newPairs.select(col(side).as("id"))
        .distinct()
        .join(base, Seq("id"), "left")
        .select(col("id"), coalesce(col("group_id"), col("id")).as("__g0"))
        .join(rl, col("__g0") === col("__from"), "left")
        .select(col("id").as(side),
          coalesce(col("__to"), col("__g0")).as(s"__eff_$side"))
      val contracted = newPairs
        .join(effective("id_a"), Seq("id_a"))
        .join(effective("id_b"), Seq("id_b"))
        .select(col("__eff_id_a").as("id_a"), col("__eff_id_b").as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
      val cc =
        if (contracted.isEmpty) base.limit(0)
        else duplicateGroups(contracted, maxIter, localEdgeLimit)
          .localCheckpoint(true)
      // new ids: pair endpoints absent from the base labels — their final
      // label is the contracted CC's answer (or their own effective label
      // when the batch connected them only to themselves)
      val ends = newPairs.select(col("id_a").as("id"))
        .unionByName(newPairs.select(col("id_b").as("id"))).distinct()
      val newIds = ends.join(base.select("id"), Seq("id"), "left_anti")
        .join(cc.select(col("id"), col("group_id").as("__cc")), Seq("id"),
          "left")
        .select(col("id"),
          coalesce(col("__cc"), col("id")).as("group_id"))
        .localCheckpoint(true)
      // merge events: contracted OLD roots whose CC label moved
      val oldRoots = base.select(col("group_id").as("id")).distinct()
        .join(rl, col("id") === col("__from"), "left")
        .select(coalesce(col("__to"), col("id")).as("id")).distinct()
      val merges = cc.join(oldRoots, Seq("id"), "left_semi")
        .filter(col("id") =!= col("group_id"))
        .select(col("id").as("old_root"), col("group_id").as("new_root"))
        .localCheckpoint(true)
      (newIds, merges)
    }
    batchTag match {
      case None =>
        val (newIds, merges) = compute()
        val nNew = newIds.count()
        val nMerge = merges.count()
        if (nNew > 0)
          newIds.write.mode(org.apache.spark.sql.SaveMode.Append)
            .parquet(s"$path/labels")
        if (nMerge > 0)
          merges.write.mode(org.apache.spark.sql.SaveMode.Append)
            .parquet(s"$path/relabels")
        (nNew, nMerge)
      case Some(tag) =>
        val sig = graft.pipeline.BatchAppend.contentSig(newPairs,
          Seq("id_a", "id_b"))
        var out = (0L, 0L) // a replayed committed batch appends nothing new
        graft.pipeline.BatchAppend.exactlyOnce(spark, path, tag, sig,
          Seq(s"$path/labels", s"$path/relabels")) {
          val (newIds, merges) = compute()
          val nNew = newIds.count()
          val nMerge = merges.count()
          if (nNew > 0)
            graft.pipeline.BatchAppend.appendBatchFiles(newIds,
              s"$path/labels", tag)
          if (nMerge > 0)
            graft.pipeline.BatchAppend.appendBatchFiles(merges,
              s"$path/relabels", tag)
          out = (nNew, nMerge)
        }
        out
    }
  }

  /** The fully-resolved (id, group_id) view: base labels composed with
    * the resolved relabel chains — one merge-event-scale join (Catalyst
    * broadcasts it while it is small), no iteration.
    */
  def componentsIndexedGroups(spark: org.apache.spark.sql.SparkSession,
                              path: String): DataFrame = {
    componentsMeta(spark, path, "componentsIndexedGroups")
    val base = spark.read.parquet(s"$path/labels")
    val rl = resolvedRelabels(spark, path, base)
    base.join(rl, col("group_id") === col("__from"), "left")
      .select(col("id"), coalesce(col("__to"), col("group_id"))
        .as("group_id"))
  }

  /** Fold the relabel chains into the base labels (staged swap; the
    * standing single-writer compaction contract). Resolved groups are
    * unchanged by construction. Returns the label row count.
    */
  def componentsCompactIndex(spark: org.apache.spark.sql.SparkSession,
                             path: String): Long = {
    componentsMeta(spark, path, "componentsCompactIndex")
    val resolved = componentsIndexedGroups(spark, path)
    val n = graft.pipeline.Sinks.overwriteViaStaging(resolved,
      s"$path/labels")
    graft.pipeline.Sinks.drop(spark, s"$path/relabels")
    n
  }

  /** Maintenance POLICY verb (late r17) — the componentsCompactIndex
    * trigger the r16 relabel-growth discussion wanted: fold the relabel
    * chains only when their accumulated row count crosses
    * `maxRelabels`. Resolution itself is fully distributed (pointer
    * doubling, no driver state), so correctness never needs this — what
    * grows with relabel history is the per-read resolution WORK
    * (⌈log₂ chain⌉ self-join rounds over the relabel set on every
    * [[componentsIndexedGroups]] call), and this bounds it. The check is
    * one count over the relabels table; run it after every append batch.
    * Returns whether a compaction ran. SINGLE-WRITER, like the verbs it
    * composes.
    */
  def componentsMaybeCompact(spark: org.apache.spark.sql.SparkSession,
                             path: String,
                             maxRelabels: Long = 1000000L): Boolean = {
    require(maxRelabels >= 0,
      s"componentsMaybeCompact: maxRelabels >= 0, got $maxRelabels")
    componentsMeta(spark, path, "componentsMaybeCompact")
    val rl = s"$path/relabels"
    val n =
      if (graft.pipeline.Sinks.exists(spark, rl))
        spark.read.parquet(rl).count()
      else 0L
    val trigger = n > maxRelabels
    if (trigger) componentsCompactIndex(spark, path): Unit
    trigger
  }

  /** End-to-end near-duplicate removal — the operation a training-data
    * pipeline actually runs: MinHash+LSH candidates → exact-Jaccard
    * verification → connected components → keep the min-id survivor per
    * duplicate group; returns `df` minus the non-survivors (one left-anti
    * join against the loser id set, which is small even at 100 TB — it is
    * bounded by the number of near-duplicate docs). Eager like its stages.
    */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
                  shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                  minJaccard: Double = 0.5): DataFrame = {
    val pairs = minHashCandidates(df, idCol, textCol, shingleN, bands,
      rowsPerBand, minJaccard)
    val losers = duplicateGroups(pairs)
      .filter(col("id") =!= col("group_id"))
      .select(col("id").as(idCol))
    // duplicateGroups returns eagerly-checkpointed labels, so the pair
    // cache minHashCandidates pinned is no longer referenced — free it
    // (repeated dedupCorpus calls would otherwise accumulate cache blocks).
    pairs.unpersist()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Loser ids of QUALITY-AWARE survivor selection: resolve candidate
    * pairs into components ([[duplicateGroups]]) and, per component, keep
    * the row with the highest score (ties: smallest id) — everything else
    * is a loser. `scores` carries (id, score) for at least every id in
    * `pairs`; duplicate rows per id resolve to their max score, and an id
    * missing a score loses to any scored rival (NULLs sort last) rather
    * than erroring. The window runs over component-labeled
    * ids joined to scores only — component-cardinality rows (bounded by
    * the near-duplicate count), never the corpus, and each partition is
    * one duplicate cluster, so no single-partition trap.
    */
  def keepBestLosers(pairs: DataFrame, scores: DataFrame): DataFrame = {
    // Positional (id, score) contract, enforced (ADVICE r7): a 3-column
    // frame or a numeric-id/numeric-score swap would silently build a
    // wrong loser set (deleting cluster winners) rather than erroring.
    // Arity is checkable; column ORDER is not (both legs can be numeric),
    // so the order stays documented contract + the score leg must at
    // least be of numeric type for max() to make sense.
    require(scores.columns.length == 2,
      s"keepBestLosers: scores must be exactly (id, score); got " +
        s"${scores.columns.length} columns ${scores.columns.mkString("(", ", ", ")")}")
    require(scores.schema.fields(1).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"keepBestLosers: scores column 2 (the score) must be numeric; got " +
        s"${scores.schema.fields(1).dataType.catalogString}")
    // duplicate score rows for one id would fan the label join out and put
    // BOTH copies (rk 1 and 2) of a cluster's winner into the loser set —
    // deleting the best row; resolve deterministically to the max score
    val uniqScores = scores
      .withColumnRenamed(scores.columns(0), "id")
      .withColumnRenamed(scores.columns(1), "__score")
      .groupBy("id").agg(max(col("__score")).as("__score"))
    val labeled = duplicateGroups(pairs)
      .join(uniqScores, Seq("id"), "left")
    val w = Window.partitionBy("group_id")
      .orderBy(col("__score").desc_nulls_last, col("id").asc)
    labeled.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") > 1).select("id")
  }

  /** [[dedupCorpus]] under the PORTABLE md5 hash family
    * ([[minHashCandidatesPortable]]) — identical shuffle shape to the
    * production xxhash path (one signature aggregation, a banded id-only
    * self-join, components, one small anti-join), but every hash is
    * DuckDB-replayable, so a recipe containing this step can be oracled
    * END-TO-END (the q_pipeline_fineweb_recipe integration row). Use
    * [[dedupCorpus]] in production (xxhash signatures are ~an order
    * cheaper than string md5s); use this form when the chain around it
    * must hash-replay cross-engine.
    */
  def dedupCorpusPortable(df: DataFrame, idCol: String, textCol: String,
                          shingleN: Int = 3, bands: Int = 4,
                          rowsPerBand: Int = 2): DataFrame = {
    val pairs = minHashCandidatesPortable(df, idCol, textCol, shingleN,
      bands, rowsPerBand)
    val losers = duplicateGroups(pairs.select("id_a", "id_b"))
      .filter(col("id") =!= col("group_id"))
      .select(col("id").as(idCol))
    // duplicateGroups returns eagerly-checkpointed labels — release the
    // pair pin so no cache entry outlives the call (the dedupCorpus
    // convention; code-review r12).
    pairs.unpersist()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** [[dedupCorpus]] with the survivor chosen by QUALITY, not id: real
    * pipelines keep the best copy of a duplicate cluster (longest, highest
    * quality score, preferred source), not the accidental minimum id. Same
    * scale stages — MinHash+LSH candidates → exact-Jaccard verify →
    * connected components — then [[keepBestLosers]] picks each cluster's
    * winner by `score` and the one small anti-join drops the rest.
    */
  def dedupCorpusKeepBest(df: DataFrame, idCol: String, textCol: String,
                          score: Column, shingleN: Int = 3, bands: Int = 8,
                          rowsPerBand: Int = 4,
                          minJaccard: Double = 0.5): DataFrame = {
    val pairs = minHashCandidates(df, idCol, textCol, shingleN, bands,
      rowsPerBand, minJaccard)
    val losers = keepBestLosers(pairs.select("id_a", "id_b"),
        df.select(col(idCol), score.as("score")))
      .select(col("id").as(idCol))
    pairs.unpersist()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** End-to-end near-duplicate removal over an EMBEDDING column — the
    * [[dedupCorpus]] shape with the text stages swapped for vector ones:
    * banded random-hyperplane LSH candidates with exact-cosine re-rank
    * ([[graft.operators.Similarity.annLsh]] — id-only band self-join,
    * payloads never shuffle, bucket sizes guardrailed) → connected
    * components → keep the min-id survivor per duplicate group. Rows whose
    * vector is empty never pair (annLsh excludes them) and therefore always
    * survive. The loser set is bounded by the number of near-duplicate
    * rows, so the final left-anti join stays small even at 100 TB.
    */
  def dedupCorpusByEmbedding(df: DataFrame, idCol: String, vecCol: String,
                             dim: Int, bands: Int = 32, bitsPerBand: Int = 5,
                             minCosine: Double = 0.9): DataFrame = {
    val pairs = Similarity.annLsh(df, idCol, vecCol, dim, bands, bitsPerBand,
      minCosine)
    val losers = duplicateGroups(pairs.select("id_a", "id_b"))
      .filter(col("id") =!= col("group_id"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** C4-style CROSS-DOCUMENT span removal: chunk every document into
    * non-overlapping windows of `spanTokens` whitespace tokens
    * ([[graft.operators.Curation.chunkDocuments]] with stride = span),
    * count each distinct span's document frequency corpus-wide, and
    * rebuild every document with the spans that occur in >= `minDocs`
    * DISTINCT documents removed — the "three-sentence span" rule of the
    * C4/MassiveText cleanup recipe (boilerplate, licenses, navigation
    * chrome repeat VERBATIM across pages; intra-doc repetition is
    * [[graft.operators.TextAnalysis.repetitionStats]]' job). Output: one
    * row per input document — `text_clean` (kept spans re-joined in
    * order; empty when everything was boilerplate) and `n_spans_kept`.
    *
    * Scale shape: the chunker is a map-side posexplode (no shuffle);
    * the frequency pass groups on `md5(span)` — a fixed 16-byte key, so
    * the shuffle width never depends on span length — followed by one
    * left-anti join of spans against the banned fingerprints and one
    * per-doc hash aggregate to reassemble (sort_array over that DOC's
    * spans only, never a corpus window). Rows ∝ corpus tokens / span —
    * linear, all stages keyed, no all-pairs anywhere.
    */
  def dedupSpansAcross(df: DataFrame, idCol: String, textCol: String,
                       spanTokens: Int, minDocs: Long): DataFrame = {
    require(spanTokens > 0, s"dedupSpansAcross: spanTokens must be > 0, got $spanTokens")
    require(minDocs >= 2,
      s"dedupSpansAcross: minDocs must be >= 2 (1 would ban every span), got $minDocs")
    val spans = Curation.chunkDocuments(df.select(col(idCol), col(textCol)),
        idCol, textCol, chunkTokens = spanTokens, strideTokens = spanTokens)
      .withColumn("__fp", md5(col("chunk_text")))
    val banned = spans.groupBy(col("__fp"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__fp"))
    val rebuilt = spans.join(banned, Seq("__fp"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("chunk_id"), col("chunk_text")))),
          s => s.getField("chunk_text"))).as("text_clean"),
        count(lit(1)).as("n_spans_kept"))
    // docs whose every span was banned (or that had no tokens) must
    // survive with empty text — dedup rewrites content, never drops rows
    df.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_spans_kept"), lit(0L)).as("n_spans_kept"))
  }

  /** INTRA-document span dedup — the within-doc counterpart of
    * [[dedupSpansAcross]] (and the removal counterpart of
    * [[graft.operators.TextAnalysis.repetitionStats]], which only
    * measures): chunk each document into non-overlapping `spanTokens`
    * windows and keep the FIRST occurrence of each distinct span,
    * dropping verbatim intra-doc repeats (generated boilerplate, copy
    * loops, scraper echo). Output: one row per input document —
    * `text_clean` (kept spans in original order) and `n_spans_kept`.
    * Every document always survives (empty text iff it had no tokens).
    *
    * Scale shape: map-side chunker (posexplode, no shuffle), then one
    * hash aggregate keyed on (doc, md5(span)) taking min(position) —
    * fixed-width key, per-doc cardinality, never corpus-wide — and one
    * per-doc rebuild aggregate. Both shuffles are doc-keyed; nothing is
    * all-pairs and no window spans the corpus.
    */
  def dedupSpansWithinDoc(df: DataFrame, idCol: String, textCol: String,
                          spanTokens: Int): DataFrame = {
    require(spanTokens > 0,
      s"dedupSpansWithinDoc: spanTokens must be > 0, got $spanTokens")
    val spans = Curation.chunkDocuments(df.select(col(idCol), col(textCol)),
        idCol, textCol, chunkTokens = spanTokens, strideTokens = spanTokens)
    val firsts = spans
      .groupBy(col(idCol), md5(col("chunk_text")).as("__fp"))
      .agg(min(col("chunk_id")).as("__keep_id"),
        first(col("chunk_text")).as("__span"))
    val rebuilt = firsts.groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__keep_id"), col("__span")))),
          s => s.getField("__span"))).as("text_clean"),
        count(lit(1)).as("n_spans_kept"))
    df.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_spans_kept"), lit(0L)).as("n_spans_kept"))
  }

  /** EXACT SUBSTRING dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", arXiv:2107.06499 §4.1 ExactSubstr):
    * remove every occurrence of any token substring of >= `minTokens`
    * tokens that appears at least twice in the corpus — at ARBITRARY
    * alignment, across documents or within one. The published method
    * builds a suffix array over the concatenated corpus; this Spark-first
    * re-expression seeds on fingerprints of ALL overlapping
    * `minTokens`-token windows: a duplicate substring of length L >=
    * minTokens is exactly a run of L − minTokens + 1 duplicated seed
    * windows, so marking every duplicated seed's token coverage removes
    * the full substring — the suffix-array extension step becomes a
    * per-doc interval merge. Bucketed by content hash, never all-pairs,
    * no suffix array materialized.
    *
    * Differs from [[dedupSpansAcross]] (the C4 fixed-window rule) in
    * alignment: spans are non-overlapping windows, so a duplicate shifted
    * by one token is invisible to them; this operator catches duplicates
    * at every offset — the property the paper shows matters for
    * memorization. Both occurrences are removed (the paper's default);
    * whole-doc duplicates should be handled by exact/MinHash dedup first.
    *
    * Output: one row per input document — `text_clean` (tokens not
    * covered by any duplicated window, original order and case),
    * `n_tokens_kept`, `n_tokens_removed`. Every document survives.
    *
    * Scale shape: the seed pass is a map-side posexplode of (doc, start,
    * md5(window)) — one row per corpus token (stride 1), the same stream
    * width as the MinHash shingle pass; md5's 128 bits keep the
    * fingerprint birthday-safe at 100 TB window counts where a 64-bit
    * hash would collide. Then ONE fingerprint-keyed count (fixed 16-byte
    * key), a semi-join back, a DOC-keyed lag/cummax window merging
    * overlapping seeds into intervals (per-doc ordering, no corpus
    * window), an interval explode bounded by ACTUAL coverage (never
    * ×minTokens), and one per-doc rebuild aggregate. All shuffles are
    * fingerprint- or doc-keyed.
    */
  def dedupSubstrings(df: DataFrame, idCol: String, textCol: String,
                      minTokens: Int): DataFrame = {
    require(minTokens >= 2,
      s"dedupSubstrings: minTokens must be >= 2, got $minTokens")
    val k = minTokens
    val toks = substrToks(df, idCol, textCol)
    val wins = substrWindows(toks, idCol, k)
    val dupFp = wins.groupBy("__fp").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2).select("__fp")
    val dupStarts = wins.join(dupFp, Seq("__fp"), "left_semi")
    rebuildUncovered(toks, idCol, k, dupStarts)
  }

  /** PRODUCTION twin of [[dedupSubstrings]] for large `minTokens`: same
    * semantics, window fingerprints computed by Rabin–Karp ROLLING
    * polynomial hashing ([[graft.expressions.SubstrRollingOps]]) — the
    * md5 form hashes O(minTokens) bytes per position, which at the
    * published k = 50 re-hashes the corpus ~50×; the rolling form is
    * O(1) per position after one Horner pass per document, so the seed
    * stage costs the same at k = 4 and k = 50. Keys on TWO independent
    * 61-bit fingerprints (122 bits — the md5 family's birthday-safety
    * argument at web-scale window counts). xxhash-based, so rows-only
    * at the driver; output equality with the oracled md5 form is
    * spec-pinned (DedupSpec, including the random-corpus property).
    */
  def dedupSubstringsFast(df: DataFrame, idCol: String, textCol: String,
                          minTokens: Int): DataFrame = {
    require(minTokens >= 2,
      s"dedupSubstringsFast: minTokens must be >= 2, got $minTokens")
    val k = minTokens
    // one native call: one tokenize, two seed hashes per token, two
    // Horner rolls — the whole point is not re-hashing the corpus
    // (code-review r11: the two-single-family-calls form tokenized and
    // XXH64'd every document twice)
    val pairsCol = graft.expressions.TextHashExpressions
      .rollingWindowFingerprintPairs(col(textCol), k,
        base1 = 1000003L, seed1 = 42L, base2 = 998244353L, seed2 = 7L)
    val wins = df.select(col(idCol), posexplode(pairsCol))
      .select(col(idCol), col("pos").cast("long").as("__s"),
        col("col").as("__fp"))
    val dupFp = wins.groupBy("__fp").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2).select("__fp")
    val dupStarts = wins.join(dupFp, Seq("__fp"), "left_semi")
    rebuildUncovered(substrToks(df, idCol, textCol), idCol, k, dupStarts)
  }

  /** Cross-corpus EXACT SUBSTRING decontamination — [[dedupSubstrings]]'
    * machinery pointed at an eval set (Lee et al. 2022 §6.2 apply their
    * substring matcher between train and eval the same way): every
    * corpus token run of >= `minTokens` tokens that appears ANYWHERE in
    * `evalDocs` is removed from the corpus text, at arbitrary alignment
    * — the surgical alternative to [[decontaminate]]'s whole-document
    * drop when only a quoted benchmark passage leaked. Corpus docs all
    * survive (with the leaked substrings excised); eval text is never
    * modified.
    *
    * Scale shape: corpus windows are the same stride-1 fingerprint
    * stream; the eval side is benchmark-sized by definition, so its
    * distinct window set broadcasts and the probe is a broadcast
    * LEFT SEMI against the corpus stream — no corpus shuffle at all
    * before the doc-keyed rebuild (the [[contaminationHits]] shape).
    */
  def dedupSubstringsAgainst(corpus: DataFrame, evalDocs: DataFrame,
                             idCol: String, textCol: String,
                             evalTextCol: String, minTokens: Int): DataFrame = {
    require(minTokens >= 2,
      s"dedupSubstringsAgainst: minTokens must be >= 2, got $minTokens")
    val k = minTokens
    val toks = substrToks(corpus, idCol, textCol)
    val wins = substrWindows(toks, idCol, k)
    val evalFp = substrWindows(
        substrToks(evalDocs.select(col(evalTextCol)), null, evalTextCol),
        null, k)
      .select("__fp").distinct()
    val hitStarts = wins.join(broadcast(evalFp), Seq("__fp"), "left_semi")
    rebuildUncovered(toks, idCol, k, hitStarts)
  }

  /** Persist the corpus's substring-window fingerprint index: one
    * (fp, cnt) row per distinct `minTokens`-token window plus a one-row
    * `meta` sidecar carrying the window width (a probe with a different
    * k would silently match nothing — the MinHash index shape-check
    * lesson, made structural). With [[substringProbeIndex]] /
    * [[substringAppendIndex]] this is the INCREMENTAL path of the
    * ExactSubstr family: the corpus is fingerprinted once, and each new
    * batch probes/extends in O(batch) without revisiting corpus text —
    * the minHashWriteIndex / ivfWriteIndex convention.
    */
  def substringWriteIndex(df: DataFrame, idCol: String, textCol: String,
                          minTokens: Int, path: String): Unit = {
    require(minTokens >= 2,
      s"substringWriteIndex: minTokens must be >= 2, got $minTokens")
    val spark = df.sparkSession
    substrWindows(substrToks(df, idCol, textCol), idCol, minTokens)
      .groupBy("__fp").agg(count(lit(1)).as("cnt"))
      .select(col("__fp").as("fp"), col("cnt"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/fps")
    import spark.implicits._
    Seq(minTokens).toDF("min_tokens")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/meta")
  }

  private def substringIndexMeta(spark: org.apache.spark.sql.SparkSession,
                                 path: String, what: String): Int = {
    val meta = try spark.read.parquet(s"$path/meta") catch {
      case e: Exception => throw new IllegalArgumentException(
        s"$what: $path is not a substring index (missing meta sidecar): " +
          e.getMessage)
    }
    require(meta.columns.contains("min_tokens"),
      s"$what: $path is not a substring index (meta lacks min_tokens)")
    meta.select("min_tokens").head().getInt(0)
  }

  /** Fold a new batch's window fingerprints into a persisted substring
    * index — O(batch): the batch's per-fp counts APPEND as partial-count
    * rows (probe semantics need presence only, and counts stay additive
    * across appends — Σ partial rows per fp is the true count), so the
    * existing index is never rewritten. The window width comes from the
    * index's own meta, so an appended batch cannot drift from the
    * training parameter.
    */
  def substringAppendIndex(newDocs: DataFrame, idCol: String,
                           textCol: String, path: String,
                           batchTag: Option[String] = None): Unit = {
    val k = substringIndexMeta(newDocs.sparkSession, path,
      "substringAppendIndex")
    val rows = substrWindows(substrToks(newDocs, idCol, textCol), idCol, k)
      .groupBy("__fp").agg(count(lit(1)).as("cnt"))
      .select(col("__fp").as("fp"), col("cnt"))
    batchTag match {
      case None =>
        rows.write.mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(s"$path/fps")
      case Some(tag) =>
        // additive partial counts: a foreachBatch crash-replay would
        // double-count every window the batch contributed (r17 —
        // the cmsAppendIndex treatment)
        val sig = graft.pipeline.BatchAppend.contentSig(newDocs,
          Seq(idCol, textCol))
        graft.pipeline.BatchAppend.exactlyOnce(newDocs.sparkSession, path,
          tag, sig, Seq(s"$path/fps")) {
          graft.pipeline.BatchAppend.appendBatchFiles(rows, s"$path/fps",
            tag)
        }: Unit
    }
  }

  /** Compact a persisted substring index's per-batch partial counts
    * into one (fp, cnt) row per fingerprint (r14, VERDICT r13 §next-5)
    * — the meta sidecar is untouched. Probe semantics need presence
    * only and counts are additive, so probes are identical before and
    * after (spec-pinned). Run at a batch boundary, never concurrently
    * with [[substringAppendIndex]].
    */
  def substringCompactIndex(spark: org.apache.spark.sql.SparkSession,
                            path: String): Long = {
    substringIndexMeta(spark, path, "substringCompactIndex")
    graft.pipeline.Sinks.compactAdditive(spark, s"$path/fps",
      Seq("fp"), Seq("cnt"))
  }

  /** Excise from NEW documents every token run of >= the index's
    * `minTokens` tokens that appears anywhere in the INDEXED corpus —
    * [[dedupSubstringsAgainst]] with the eval side replaced by the
    * persisted fingerprint set, so the probe never touches corpus text.
    * Output: the [[dedupSubstrings]] rebuild shape, one row per batch
    * doc. The fp semi-join is fingerprint-keyed (fixed 16-byte key);
    * Spark broadcasts the index side only when it is small — at corpus
    * scale it shuffles the batch's window stream instead, still O(batch
    * tokens + index probe).
    */
  def substringProbeIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String, newDocs: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    val k = substringIndexMeta(spark, path, "substringProbeIndex")
    val idx = spark.read.parquet(s"$path/fps")
    require(idx.columns.contains("fp"),
      s"substringProbeIndex: $path is not a substring index (want fp column)")
    val toks = substrToks(newDocs, idCol, textCol)
    val hitStarts = substrWindows(toks, idCol, k)
      .join(idx.select(col("fp").as("__fp")), Seq("__fp"), "left_semi")
    rebuildUncovered(toks, idCol, k, hitStarts)
  }

  /** Whitespace tokens + count for the substring operators; `idCol` null
    * means "no id needed" (the eval side, which only contributes
    * fingerprints).
    */
  private def substrToks(df: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val base = if (idCol == null) df.select(col(textCol))
               else df.select(col(idCol), col(textCol))
    // NULL text behaves as empty (code-review r11: split(NULL) → NULL →
    // size = -1 under legacy sizeOfNull made n_tokens_removed NEGATIVE
    // for null-text docs): zero tokens, zero removed, empty rebuild.
    base.withColumn("__tk",
        filter(split(coalesce(col(textCol), lit("")), "\\s+"), t => t =!= ""))
      .withColumn("__n", size(col("__tk"))).drop(textCol)
  }

  /** Stride-1 `k`-token window fingerprints: one (id?, __s, __fp) row per
    * start position 0 .. n-k.
    */
  private def substrWindows(toks: DataFrame, idCol: String,
                            k: Int): DataFrame = {
    val idCols = if (idCol == null) Seq.empty else Seq(col(idCol))
    toks.filter(col("__n") >= k)
      .select(idCols :+ posexplode(transform(
        sequence(lit(0), col("__n") - k),
        i => md5(concat_ws(" ", slice(col("__tk"), i + 1, lit(k)))))): _*)
      .withColumnRenamed("pos", "__sraw")
      .withColumnRenamed("col", "__fp")
      .withColumn("__s", col("__sraw").cast("long")).drop("__sraw")
  }

  /** Shared tail of the substring operators: merge the marked seed starts
    * into maximal coverage intervals per doc (lag/cummax — a seed at
    * start s covers [s, s+k); a new interval begins only when the start
    * clears every previous seed's end), explode exactly the covered
    * positions, rebuild every document from its uncovered tokens.
    */
  private def rebuildUncovered(toks: DataFrame, idCol: String, k: Int,
                               markedStarts: DataFrame): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy("__s")
    val prevEnd = max(col("__s") + k)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val intervals = markedStarts
      .withColumn("__ng",
        when(col("__s") > coalesce(prevEnd, lit(-1L)), 1).otherwise(0))
      .withColumn("__g",
        sum(col("__ng")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__g"))
      .agg(min("__s").as("__lo"), (max("__s") + k - 1).as("__hi"))
    val covered = intervals.select(col(idCol),
      explode(sequence(col("__lo"), col("__hi"))).as("pos"))
    val tokRows = toks.select(col(idCol), posexplode(col("__tk")))
    val rebuilt = tokRows.join(covered, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("col")))),
          s => s.getField("col"))).as("text_clean"),
        count(lit(1)).as("n_tokens_kept"))
    toks.select(col(idCol), col("__n"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"),
        (col("__n") - coalesce(col("n_tokens_kept"), lit(0L)))
          .as("n_tokens_removed"))
  }

  /** Train/eval DECONTAMINATION — per-corpus-doc count of distinct word
    * n-grams shared with a benchmark/eval set. Cross-corpus containment,
    * not self-dedup: a training doc that embeds an eval answer is
    * contaminated even when it duplicates nothing else in the corpus (the
    * GPT-3/Pile-style overlap rule). Every corpus doc appears in the
    * output, zero-hit and shingle-less docs included.
    *
    * Scale shape: the corpus side explodes its (per-doc distinct) shingles
    * map-side; eval n-gram sets are benchmark-sized, so the join is a
    * broadcast hash join against the exploded stream — no corpus shuffle —
    * and the per-doc count is one hash aggregate keyed by id.
    */
  def contaminationHits(corpus: DataFrame, evalDocs: DataFrame, idCol: String,
                        textCol: String, evalTextCol: String,
                        ngramN: Int = 3): DataFrame = {
    val evalGrams = evalDocs
      .select(explode(shingles(col(evalTextCol), ngramN)).as("g")).distinct()
      .withColumn("__hit", lit(1L))
    // explicit broadcast: the eval side is benchmark-sized by definition,
    // but it reaches the join as an aggregate whose size estimate blocks
    // auto-broadcast — without the hint the exploded corpus shingle stream
    // (orders of magnitude larger than the corpus) shuffles for an SMJ
    corpus.select(col(idCol), explode_outer(shingles(col(textCol), ngramN)).as("g"))
      .join(broadcast(evalGrams), Seq("g"), "left")
      .groupBy(idCol)
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
  }

  /** Per-BENCHMARK contamination attribution — [[contaminationHits]]
    * with the eval side labeled by suite: `evalDocs` carries a
    * `benchCol` naming each benchmark, and the output is one row per
    * (corpus doc, benchmark) that SHARE at least one distinct word
    * n-gram, with the distinct-overlap count. This is the reporting
    * form: "which eval suites leaked into which documents, how badly" —
    * the input to a per-benchmark removal policy (a strict suite can
    * ban at 1 hit while a lenient one bans at 10), where
    * [[decontaminate]] only answers the aggregate yes/no.
    *
    * Same scale shape as contaminationHits: the (benchmark, n-gram)
    * side is benchmark-sized and broadcast; the corpus explodes
    * map-side and aggregates on (doc, benchmark) — no corpus-side
    * shuffle of anything but hit rows (bounded by actual overlap).
    */
  def contaminationReport(corpus: DataFrame, evalDocs: DataFrame,
                          idCol: String, textCol: String, evalTextCol: String,
                          benchCol: String, ngramN: Int = 3): DataFrame = {
    val evalGrams = evalDocs
      .select(col(benchCol).cast("string").as("__bench"),
        explode(shingles(col(evalTextCol), ngramN)).as("g"))
      .distinct()
    corpus
      .select(col(idCol), explode(shingles(col(textCol), ngramN)).as("g"))
      .join(broadcast(evalGrams), Seq("g"))
      .groupBy(col(idCol), col("__bench"))
      .agg(count(lit(1)).as("n_hits"))
      .withColumnRenamed("__bench", benchCol)
  }

  /** [[contaminationHits]] → removal: drop corpus docs sharing at least
    * `minHits` distinct n-grams with the eval set. The contaminated id set
    * is bounded by the corpus×eval overlap, so the anti-join stays small.
    */
  def decontaminate(corpus: DataFrame, evalDocs: DataFrame, idCol: String,
                    textCol: String, evalTextCol: String,
                    ngramN: Int = 3, minHits: Long = 1): DataFrame =
    corpus.join(
      contaminationHits(corpus, evalDocs, idCol, textCol, evalTextCol, ngramN)
        .filter(col("n_hits") >= minHits).select(col(idCol)),
      Seq(idCol), "left_anti")

  /** FUZZY decontamination (late r10): drop corpus docs whose
    * MinHash-ESTIMATED Jaccard against ANY eval doc reaches
    * `minEstJaccard` — the near-duplicate leak [[decontaminate]]'s
    * n-gram-hit rule is the wrong tool for: exact hits fire on ANY
    * shared n-grams (recall-oriented, over-removes on common phrases at
    * low `minHits`), while this fires only when a corpus doc is
    * substantially the SAME document as an eval doc (light paraphrase,
    * whitespace/punctuation variants) — the fuzzy decontamination recent
    * open-model pipelines run alongside the exact pass.
    *
    * Shape: CROSS-corpus LSH, never corpus×corpus — both sides map to
    * banded signatures (the one-pass native, no shuffle), buckets join
    * band-wise with the eval side small (benchmarks are bounded;
    * broadcast-sized after banding), estimated Jaccard = matching
    * signature positions / k on collided pairs only, then one anti-join.
    * Verbatim copies have IDENTICAL signatures (est = 1), so exact
    * leakage can never slip through the estimator — the gate pins that
    * invariant.
    */
  def decontaminateFuzzy(corpus: DataFrame, evalDocs: DataFrame,
                         idCol: String, textCol: String, evalTextCol: String,
                         shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                         minEstJaccard: Double = 0.5,
                         maxBucketRows: Long = Guardrails.DefaultMaxBucketRows): DataFrame = {
    require(minEstJaccard > 0.0 && minEstJaccard <= 1.0,
      s"decontaminateFuzzy: minEstJaccard must be in (0,1], got $minEstJaccard")
    val k = bands * rowsPerBand
    // eval docs need no identity — only which corpus docs collide matters
    def banded(df: DataFrame, text: Column, side: String,
               keepIn: Seq[Column], keepOut: Seq[Column]) = df
      .select(keepIn :+ graft.expressions.TextHashExpressions
        .minHashSignature(text, shingleN, k).as(s"sig_$side"): _*)
      .filter(col(s"sig_$side").isNotNull)
      .select(keepOut :+ col(s"sig_$side") :+
        posexplode(array((0 until bands).map(b =>
          hash((b * rowsPerBand until (b + 1) * rowsPerBand)
            .map(i => element_at(col(s"sig_$side"), i + 1)): _*)): _*)): _*)
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
    val corpusBanded = banded(corpus, col(textCol), "c",
      Seq(col(idCol).as("c_id")), Seq(col("c_id")))
    Guardrails.requireBoundedBuckets(corpusBanded, Seq("band", "bucket"),
      maxBucketRows, s"decontaminateFuzzy(bands=$bands, rowsPerBand=$rowsPerBand)",
      "raise rowsPerBand or exact-dedup the corpus first")
    val evalBanded = broadcast(banded(evalDocs, col(evalTextCol), "e",
      Nil, Nil))
    val est = size(filter(zip_with(col("sig_c"), col("sig_e"),
      (a, b) => a === b), x => x)).cast("double") / k
    val hit = corpusBanded
      .join(evalBanded, Seq("band", "bucket"))
      .select(col("c_id"), est.as("est"))
      .filter(col("est") >= minEstJaccard)
      .select(col("c_id").as(idCol)).distinct()
    corpus.join(hit, Seq(idCol), "left_anti")
  }

  /** [[contaminationHits]] when the eval n-gram set OUTGROWS a broadcast
    * hash set: the benchmark side is folded into a Bloom filter instead of
    * a set — a 100M-n-gram suite at fpp 1e-4 is ~240 MB as distinct strings
    * in a broadcast join but ~24 MB of bits here (2.4 bytes/item), and the
    * probe is a codegen'd long-hash test, not a join. Built with Catalyst's
    * own `BloomFilterAggregate` (distributed build; only the final bitmap
    * reaches the driver — the k-means-centroids trade) and probed with its
    * paired `BloomFilterMightContain` on the SAME xxhash64 the aggregate
    * inserted, exactly the machinery Spark's runtime bloom join pruning
    * uses.
    *
    * Semantics: NO false negatives (every truly-contaminated n-gram hits —
    * a Bloom theorem), false positives at most `fpp` per PROBE, so
    * `n_hits_bloom >= n_hits` always, and over-counting concentrates on
    * docs with many shingles. Choose `fpp` against the per-doc shingle
    * count: at 200 shingles/doc and fpp 1e-4 the chance a clean doc gains
    * even one phantom hit is ~2 %. The exact-vs-bloom relationship is
    * pinned by the driver gate (`q_dedup_decontam_bloom_gate`).
    */
  def contaminationHitsBloom(corpus: DataFrame, evalDocs: DataFrame,
                             idCol: String, textCol: String, evalTextCol: String,
                             ngramN: Int = 3, fpp: Double = 1e-4): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    import org.apache.spark.sql.GraftBridge
    require(fpp > 0 && fpp < 1, s"contaminationHitsBloom: fpp in (0,1), got $fpp")
    val evalHashes = evalDocs
      .select(explode(shingles(col(evalTextCol), ngramN)).as("g"))
      .select(xxhash64(col("g")).as("h")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Size the filter from the true distinct count (one cheap pass over the
    // benchmark side): bits = -n ln(fpp) / ln²2, the standard optimum.
    val n = math.max(evalHashes.count(), 1L)
    val numBits = math.max(64L,
      math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    // BloomFilterAggregate validates its arguments against session limits
    // meant for the OPTIMIZER's runtime join filters (defaults: 4M items /
    // 8M bytes) — far below a real eval suite. Raise them scope-locally for
    // the build; the probe side has no limit check. The conf is
    // SESSION-global, so concurrent builds serialize on one lock: without
    // it, build A's `finally`-restore could land while build B is still
    // planning and silently cap B's bloom (Math.min against the limit →
    // inflated false-positive rate, no error). Other queries racing this
    // window only ever observe RAISED limits — the benign direction for an
    // upper bound.
    val spark = corpus.sparkSession
    def withConfFloor[T](key: String, atLeast: Long)(f: => T): T = {
      val prev = spark.conf.get(key)
      if (prev.toLong < atLeast) spark.conf.set(key, atLeast.toString)
      try f finally spark.conf.set(key, prev)
    }
    val bloomBytes = Dedup.bloomBuildLock.synchronized {
      withConfFloor("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", n) {
        withConfFloor("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", numBits) {
          evalHashes
            .agg(GraftBridge.column(new BloomFilterAggregate(
                GraftBridge.expression(col("h")),
                Literal(n), Literal(numBits)).toAggregateExpression()).as("bf"))
            .head().getAs[Array[Byte]](0)
        }
      }
    }
    evalHashes.unpersist()
    def mightContain(c: Column): Column = GraftBridge.column(
      BloomFilterMightContain(Literal(bloomBytes, BinaryType),
        GraftBridge.expression(xxhash64(c))))
    corpus.select(col(idCol), explode_outer(shingles(col(textCol), ngramN)).as("g"))
      .groupBy(idCol)
      .agg(sum(when(col("g").isNotNull && mightContain(col("g")), 1L)
        .otherwise(0L)).as("n_hits_bloom"))
  }

  /** [[decontaminate]]'s scale twin over [[contaminationHitsBloom]]. Bloom
    * false positives can only OVER-remove (never leak contamination
    * through) — the conservative direction for train/eval hygiene.
    */
  def decontaminateBloom(corpus: DataFrame, evalDocs: DataFrame, idCol: String,
                         textCol: String, evalTextCol: String,
                         ngramN: Int = 3, minHits: Long = 1,
                         fpp: Double = 1e-4): DataFrame =
    corpus.join(
      contaminationHitsBloom(corpus, evalDocs, idCol, textCol, evalTextCol,
        ngramN, fpp)
        .filter(col("n_hits_bloom") >= minHits).select(col(idCol)),
      Seq(idCol), "left_anti")

  /** Measured MinHash+LSH quality stats over a bounded id range — the
    * `q_sim_recall_gate` pattern applied to the MinHash family. One row:
    *
    *  - `n_exact_pairs` + exact-recall flag: docs with IDENTICAL token
    *    sequences (>= shingleN tokens — shorter docs have no shingle, hence
    *    no signature, by design) have identical shingle sets, hence
    *    identical signatures, hence share every band bucket — candidacy is
    *    a THEOREM, so recall must be exactly 1.0. False the moment the
    *    signature expression or band join is broken.
    *  - high-similarity recall flag: fraction of exact shingle-hash-Jaccard
    *    >= `highJaccard` pairs surfaced as candidates, measured against the
    *    banding's analytic expectation (miss probability per pair is
    *    (1-J^rowsPerBand)^bands, <= 1.5% at J=0.8 with 8x4). Deterministic
    *    for a fixed corpus (xxhash64 has no runtime seed).
    *
    * Truth sides are n²-bounded by maxId (verify-scale, like
    * [[ngramJaccardPairs]]); the candidate side runs the REAL banded
    * pipeline over the same bounded frame.
    */
  def minHashGateStats(df: DataFrame, idCol: String, textCol: String,
                       maxId: Long, shingleN: Int = 3, bands: Int = 8,
                       rowsPerBand: Int = 4, highJaccard: Double = 0.8,
                       minHighRecall: Double = 0.9): DataFrame = {
    val bounded = df.filter(col(idCol) < maxId)
    val tk = bounded.select(col(idCol).as("id"),
        filter(split(lower(col(textCol)), "\\s+"), t => t =!= "").as("tk"))
      .filter(size(col("tk")) >= shingleN)
    // Token SEQUENCE equality, not multiset: shingling is order-sensitive.
    val exactTruth = tk.select(col("id").as("id_a"), col("tk").as("tka"))
      .join(tk.select(col("id").as("id_b"), col("tk").as("tkb")),
        col("id_a") < col("id_b") && col("tka") === col("tkb"))
      .select("id_a", "id_b")
    val sh = shingleHashRows(bounded, idCol, textCol, shingleN)
      .groupBy("id").agg(collect_set(col("sh")).as("sh"))
    val highTruth = sh.select(col("id").as("id_a"), col("sh").as("sha"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("shb")),
        col("id_a") < col("id_b"))
      .filter(size(array_intersect(col("sha"), col("shb"))).cast("double") /
        size(array_union(col("sha"), col("shb"))).cast("double") >= highJaccard)
      .select("id_a", "id_b")
    // minJaccard=0 keeps every bucket-sharing pair: the gate measures the
    // BANDING's recall, not the verify filter's.
    val cand = minHashCandidates(bounded, idCol, textCol, shingleN, bands,
        rowsPerBand, minJaccard = 0.0)
      .select("id_a", "id_b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val res = exactTruth.agg(count(lit(1)).as("n_exact_pairs"))
      .crossJoin(exactTruth.join(cand, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("__exact_hit")))
      .crossJoin(highTruth.agg(count(lit(1)).as("__n_high")))
      .crossJoin(highTruth.join(cand, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("__high_hit")))
      .select(col("n_exact_pairs"),
        (col("__exact_hit") === col("n_exact_pairs")).as("minhash_exact_recall_ok"),
        // no high-J pairs at tiny SFs -> vacuously recalled (explicit zero
        // guard: ANSI mode makes x/0 throw, not NULL, so coalesce alone
        // cannot express this)
        when(col("__n_high") === 0, lit(true))
          .otherwise(col("__high_hit").cast("double") /
            col("__n_high").cast("double") >= minHighRecall)
          .as("minhash_highj_recall_ok"))
      .localCheckpoint(true)
    cand.unpersist()
    res
  }

  /** Exact pairwise n-gram Jaccard over a bounded candidate set (the
    * verify stage; candidates come from LSH at scale). Token-set join form —
    * the relational shape DuckDB can oracle-check.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        maxId: Long, minJaccard: Double): DataFrame = {
    val base = df.filter(col(idCol) < maxId)
      .select(col(idCol).as("id"), array_distinct(filter(
        split(lower(col(textCol)), "\\s+"), t => t =!= "")).as("toks"))
    val words = base.select(col("id"), explode(col("toks")).as("w"))
    val sizes = base.select(col("id"), size(col("toks")).as("n"))
    val inter = words.as("a").join(words.as("b"),
        col("a.w") === col("b.w") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnsRenamed(Map("id" -> "id_a", "n" -> "n_a")), Seq("id_a"))
      .join(sizes.withColumnsRenamed(Map("id" -> "id_b", "n" -> "n_b")), Seq("id_b"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Persist a MinHash dedup INDEX: one row per corpus doc, `k` signature
    * longs (~8k B per doc at k=32 — constant, independent of text size).
    * New batches then probe via [[minHashProbeIndex]] without re-reading or
    * re-hashing corpus text — the incremental form of
    * [[minHashCandidates]], which is the 100 TB operating mode: the corpus
    * signature pass runs ONCE ever, not once per arriving batch.
    */
  def minHashWriteIndex(df: DataFrame, idCol: String, textCol: String,
                        path: String, shingleN: Int = 3, bands: Int = 8,
                        rowsPerBand: Int = 4): Unit = {
    df.select(col(idCol).as("id"),
        graft.expressions.TextHashExpressions
          .minHashSignature(col(textCol), shingleN, bands * rowsPerBand).as("sig"))
      .filter(col("sig").isNotNull)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
    // parameters sidecar (late r17): appends MUST hash new batches with
    // the exact write-time (shingleN, k) or their signatures silently
    // stop being comparable with the stored ones — the index's structure
    // travels with the index, the _centroids/_books convention. `_`
    // prefix hides it from the signature scan.
    val spark = df.sparkSession
    import spark.implicits._
    Seq((shingleN, bands, rowsPerBand))
      .toDF("shingle_n", "bands", "rows_per_band")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/_meta")
  }

  private def minHashIndexMeta(spark: org.apache.spark.sql.SparkSession,
                               path: String, what: String)
      : (Int, Int, Int) = {
    val rows =
      try spark.read.parquet(s"$path/_meta")
        .select("shingle_n", "bands", "rows_per_band").collect()
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalStateException(
            s"$what: $path has no readable parameters sidecar (_meta); " +
              "rewrite the index with minHashWriteIndex", e)
      }
    require(rows.length == 1, s"$what: $path has a malformed _meta sidecar")
    (rows.head.getInt(0), rows.head.getInt(1), rows.head.getInt(2))
  }

  /** O(batch) MinHash index maintenance (late r17 — the verb the
    * write/probe pair was missing): hash a new batch with the SIDECAR
    * parameters — the only (shingleN, k) comparable with the signatures
    * on disk — and append its signature rows. This is the accept loop of
    * incremental crawl dedup: probe the batch ([[minHashProbeIndex]]),
    * drop the near-duplicates, append the survivors — corpus text is
    * never re-read, the 100 TB operating mode.
    *
    * `batchTag` makes the append EXACTLY-ONCE (the
    * [[graft.operators.Similarity.ivfAppendIndex]] treatment): a
    * crash-replayed batch would append duplicate signature rows —
    * probes stay correct (the candidate pair set is distinct-ed) but
    * every later probe pays the duplicated join rows and the index
    * doubles silently. Committed (tag, content) replays no-op
    * ([[graft.pipeline.BatchAppend]]).
    */
  def minHashAppendIndex(newDocs: DataFrame, idCol: String, textCol: String,
                         path: String,
                         batchTag: Option[String] = None): Unit = {
    val spark = newDocs.sparkSession
    val (sn, bands, rpb) = minHashIndexMeta(spark, path, "minHashAppendIndex")
    val rows = newDocs.select(col(idCol).as("id"),
        graft.expressions.TextHashExpressions
          .minHashSignature(col(textCol), sn, bands * rpb).as("sig"))
      .filter(col("sig").isNotNull)
    batchTag match {
      case None =>
        rows.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(path)
      case Some(tag) =>
        val sig = graft.pipeline.BatchAppend.contentSig(newDocs,
          Seq(idCol, textCol))
        graft.pipeline.BatchAppend.exactlyOnce(spark, path, tag, sig,
          Seq(path)) {
          graft.pipeline.BatchAppend.appendBatchFiles(rows, path, tag)
        }: Unit
    }
  }

  /** Probe NEW documents against a persisted MinHash index: new-side
    * signatures come from text, corpus-side banding is re-derived from the
    * stored signatures (a narrow map over k-long arrays — no text, no
    * window, no aggregate), candidates share any (band, bucket), and the
    * pair's similarity is the MinHash estimator itself — the fraction of
    * agreeing signature positions — so the probe never touches corpus
    * text at all. Identical token sequences estimate exactly 1.0 (equal
    * signatures), which [[SparkEntry]]'s probe gate pins.
    *
    * Scale shape: the (band, bucket, id) shuffle carries ids and longs
    * only; signatures re-attach to the (tiny) candidate pair set, never
    * ride the band explode.
    */
  def minHashProbeIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                        newDocs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                        minEstJaccard: Double = 0.5,
                        maxBucketRows: Long = Guardrails.DefaultMaxBucketRows): DataFrame = {
    val k = bands * rowsPerBand
    def banded(sigs: DataFrame, side: String) = sigs
      .select(col("id"), posexplode(array((0 until bands).map(b =>
        hash((b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => element_at(col("sig"), i + 1)): _*)): _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket", "id" -> side))
    // tombstone exclusion (late r17): deleted docs never surface as
    // corpus-side candidates, before or after a physical purge
    val idx = graft.pipeline.Tombstones.exclude(
      spark.read.parquet(path), path)
    require(Seq("id", "sig").forall(idx.columns.contains),
      s"minHashProbeIndex: $path is not a MinHash index (want columns id, sig)")
    // drift guard (late r17): when the parameters sidecar is present,
    // the probe's banding must match the write-time banding — probing
    // k=32 signatures as 4×4 silently halves every bucket's evidence.
    // Indexes written before the sidecar existed skip the check (the
    // sig-length arithmetic below still catches a k mismatch).
    if (graft.pipeline.Sinks.exists(spark, s"$path/_meta")) {
      val (sn, b, rpb) = minHashIndexMeta(spark, path, "minHashProbeIndex")
      require(sn == shingleN && b == bands && rpb == rowsPerBand,
        s"minHashProbeIndex: probe parameters (shingleN=$shingleN, " +
          s"bands=$bands, rowsPerBand=$rowsPerBand) differ from the " +
          s"index's write-time ($sn, $b, $rpb) — signatures would not " +
          "be comparable")
    }
    val newSigs = newDocs.select(col(idCol).as("id"),
        graft.expressions.TextHashExpressions
          .minHashSignature(col(textCol), shingleN, k).as("sig"))
      .filter(col("sig").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpusBanded = banded(idx, "corpus_id")
    Guardrails.requireBoundedBuckets(corpusBanded, Seq("band", "bucket"),
      maxBucketRows, s"minHashProbeIndex(bands=$bands, rowsPerBand=$rowsPerBand)",
      "raise rowsPerBand or exact-dedup the corpus before indexing")
    val pairs = banded(newSigs, "new_id")
      .join(corpusBanded, Seq("band", "bucket"))
      .select("new_id", "corpus_id").distinct()
    val est = size(filter(zip_with(col("sig_n"), col("sig_c"),
      (a, b) => a === b), x => x)).cast("double") / k
    val res = pairs
      .join(newSigs.select(col("id").as("new_id"), col("sig").as("sig_n")), Seq("new_id"))
      .join(idx.select(col("id").as("corpus_id"), col("sig").as("sig_c")), Seq("corpus_id"))
      .select(col("new_id"), col("corpus_id"), est.as("jaccard_est"))
      .filter(col("jaccard_est") >= minEstJaccard)
      .localCheckpoint(true)
    newSigs.unpersist()
    res
  }
}
