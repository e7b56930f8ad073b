package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import TextKit._

/** Deduplication operators over a `documents(doc_id, text, ...)` table.
  *
  * Scale design (100 TB): every operator is a constant number of shuffles
  * keyed by doc/shingle/bucket — no driver-side state, no O(n^2) stage.
  * Candidate generation always goes through an inverted index (shingle or
  * LSH bucket) with a document-frequency cap so a stop-shingle can't create
  * a quadratic bucket; verification only runs on candidate pairs.
  *
  * CPU design: text is hashed exactly ONCE per shingle occurrence (one
  * md5); everything downstream — the k minhash slots, band keys, Jaccard
  * verification — is integer arithmetic over that hash. The k-seeded-md5
  * form this replaced spent ~k× the CPU of the whole pipeline inside
  * per-row digest calls, which is both slower and far more sensitive to a
  * contended host.
  */
object Dedup {

  /** Exact dedup: one canonical row (min doc_id) per distinct text, with
    * the duplicate count. Hash-groupBy on the FULL 128-bit md5(text) digest
    * (hex) — birthday-collision probability stays negligible at 100 TB row
    * counts (a 60-bit key would start merging distinct texts around 2^30
    * docs), while the 32-char shuffle key is still narrow relative to
    * shuffling full document bodies. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_copies"))

  /** Line-level corpus dedup (the C4/RefinedWeb boilerplate-removal
    * shape): any line occurring in >= minDf documents corpus-wide (nav
    * bars, cookie banners, license footers) is dropped from EVERY
    * document, and each document is rebuilt from its surviving lines in
    * original order. Emits per-document kept/dropped counts plus the
    * rebuilt text's length and md5 (the downstream dedup/audit key).
    *
    * Scale shape: lines explode once (positions ride along); the
    * frequent-line relation is the count aggregate FILTERED to df >= minDf
    * — tiny by construction (only boilerplate crosses the threshold), so
    * the anti-join's build side is small even when the corpus is not; the
    * rebuild is one narrow shuffle on doc_id, and each document's
    * reassembly sorts only its OWN lines (array_sort over the collected
    * (pos, line) structs — no window, no global sort). Documents losing
    * every line surface with n_lines_kept = 0 and the empty-string hash,
    * ready for a length filter downstream. */
  def lineDedup(docs: DataFrame, sep: String = "\n",
      minDf: Long = 10L): DataFrame = {
    val lines = tracked(spread(docs)
      .select(col("doc_id"),
        posexplode(split(col("text"), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "line")))
      .withColumn("lh", md5(col("line"))))
    // df = distinct DOCUMENTS containing the line (not occurrences): one
    // spammy doc repeating its own unique line minDf times must not get
    // that line classified as corpus-wide boilerplate
    val frequent = lines.groupBy(col("lh"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)
      .select(col("lh"))
    val kept = lines.join(frequent, Seq("lh"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), sep).as("rebuilt"))
    docs.select(col("doc_id"),
        size(split(col("text"), java.util.regex.Pattern.quote(sep)))
          .as("n_lines"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_kept"), lit(0L)).as("n_lines_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L)))
          .as("n_lines_dropped"),
        length(coalesce(col("rebuilt"), lit(""))).as("n_chars_kept"),
        md5(coalesce(col("rebuilt"), lit(""))).as("rebuilt_hash"))
  }

  /** Train/test contamination detection: for every (corpus doc, benchmark
    * doc) pair sharing word n-grams, the count of DISTINCT shared n-grams
    * and its share of the benchmark doc's n-gram set; pairs at or above
    * `tau` are flagged. This is the decontamination pass a training
    * pipeline runs before export — did a benchmark item leak into the
    * crawl?
    *
    * Scale shape: the benchmark side reduces to distinct (id, 60-bit
    * n-gram hash) pairs and is SMALL by definition (eval suites are MBs
    * against a 100 TB corpus), so it broadcasts; the corpus side stays a
    * raw occurrence stream through the broadcast hash join — no corpus
    * shuffle at all until the (doc, bench) pair aggregation (a
    * count-distinct over the join's surviving rows), whose cardinality
    * is bounded by actual overlap, not corpus size. The broadcast is SIZE-
    * GATED like the Jaccard-verify semi join (the hint is a promise, not
    * advice — an unexpectedly huge "benchmark" must degrade to a shuffled
    * join, not OOM the driver): the bench n-gram relation broadcasts only
    * when its row count, measured off the same pass that computes the
    * per-bench sizes, stays under `broadcastNgramLimit`. */
  def contamination(corpus: DataFrame, bench: DataFrame, n: Int = 5,
      tau: Double = 0.5, broadcastNgramLimit: Long = 5000000L): DataFrame = {
    // the corpus side stays an occurrence STREAM — no distinct(), which
    // would shuffle the whole exploded n-gram relation before the join;
    // the broadcast join filters it to bench-matching rows first, and the
    // pair aggregation counts DISTINCT hashes so duplicate occurrences
    // can't inflate the overlap
    val cSh = spread(corpus)
      .select(col("doc_id"), explode(shinglesOf(col("text"), n)).as("s"))
      .select(col("doc_id"), md5Long(col("s")).as("m"))
    val bSh = tracked(bench
      .select(col("bench_id"), explode(shinglesOf(col("text"), n)).as("s"))
      .select(col("bench_id"), md5Long(col("s")).as("m"))
      .distinct())
    // one cheap count on the cached relation decides BOTH hints: the
    // per-bench size relation has at most as many rows as bSh
    val bTotal = bSh.count()
    val gate = (df: DataFrame) =>
      if (bTotal <= broadcastNgramLimit) broadcast(df) else df
    val bSize = bSh.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("bench_ngrams"))
    cSh.join(gate(bSh), Seq("m"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(countDistinct(col("m")).as("overlap"))
      .join(gate(bSize), Seq("bench_id"))
      .withColumn("contamination",
        col("overlap").cast(DoubleType) / col("bench_ngrams").cast(DoubleType))
      .filter(col("contamination") >= tau)
      .select(col("doc_id"), col("bench_id"), col("overlap"),
        col("bench_ngrams"), col("contamination"))
  }

  /** (doc_id, bigram-shingle) rows straight from the explode. Deliberately
    * NOT deduplicated: every consumer is duplicate-insensitive (min-hash
    * aggregation, collect_set set semantics, count-distinct df), so a
    * distinct() here would cost a full shuffle of the largest relation in
    * the pipeline for nothing.
    *
    * A corpus that arrives in fewer partitions than the cluster has slots
    * (one small parquet file -> ONE task running all the shingle + hash
    * CPU) is spread out first; at real scale the scan already has more
    * partitions than slots and no extra shuffle is paid. */
  def shingleSet(docs: DataFrame): DataFrame =
    spread(docs).select(col("doc_id"), explode(shinglesOf(col("text"))).as("s"))

  /** (doc_id, m) with m = the 60-bit md5 of each shingle occurrence — the
    * shared relation behind the minhash/Jaccard family, and the ONLY place
    * the family touches a digest. Callers cache it (8 bytes/shingle beats
    * re-hashing and beats caching shingle strings). */
  def shingleHashes(docs: DataFrame): DataFrame =
    shingleSet(docs).select(col("doc_id"), md5Long(col("s")).as("m"))

  /** Modulus for the universal-hash minhash slots: 2^31 - 1 (prime).
    * All arithmetic stays inside non-negative BIGINT in both engines:
    * a*(m%P)+b < 2^62. */
  val P: Long = 2147483647L
  /** Fixed multipliers/offsets for slots h0..h7 (primes / well-known
    * constants — any fixed values < P work; pinned so the DuckDB oracle
    * can mirror them). */
  val hashA: IndexedSeq[Long] = Vector(
    1103515245L, 1299709L, 15485863L, 32452843L,
    49979687L, 67867967L, 86028121L, 104395301L)
  val hashB: IndexedSeq[Long] = Vector(
    12345L, 271828L, 314159L, 161803L,
    141421L, 173205L, 223606L, 244948L)

  /** Slot-j universal hash of a 60-bit md5 column: (a_j*(m%P)+b_j) % P.
    * One multiply-add per slot instead of one md5 per slot. */
  def slotHash(m: Column, j: Int): Column =
    (lit(hashA(j)) * (m % lit(P)) + lit(hashB(j))) % lit(P)

  /** MinHash signatures over word-bigram shingles: `numHashes` slots
    * h0..h{k-1}, each `min(slotHash(md5(shingle), j))`. One explode + ONE
    * md5 per shingle + one integer min-aggregation. */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 8): DataFrame =
    minhashSignaturesOf(shingleHashes(docs), numHashes)

  private def minhashSignaturesOf(shm: DataFrame, numHashes: Int): DataFrame = {
    require(numHashes <= hashA.length, s"at most ${hashA.length} hash slots")
    val mins = (0 until numHashes)
      .map(j => min(slotHash(col("m"), j)).as(s"h$j"))
    shm.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** Group members per key with the hot-bucket guard applied in a SINGLE
    * bounded aggregation: each group keeps its up-to-(maxBucket+1) smallest
    * distinct ids (BoundedMinSet — bounded executor memory even for a
    * 10^9-member bucket), then groups that overflowed maxBucket are
    * dropped (and, for within-corpus pair generation, so are singleton
    * groups — `minSize` = 1 keeps them for cross-corpus probing, where a
    * lone corpus doc can still pair with an incoming doc). Kept groups
    * hold their EXACT membership. Dropping over-cap groups is what makes
    * bucketed pair generation survive adversarial (dup-heavy) data at
    * 100 TB: the dropped pairs are near-always exact duplicates or
    * degenerate shingles — exact dedup upstream is the operator for
    * those. */
  private[ops] def boundedBuckets(df: DataFrame, keys: Seq[String], id: String,
      maxBucket: Int, minSize: Int = 2): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(BoundedMinSet(maxBucket + 1, col(id)).as("ids"))
      .filter(size(col("ids")).between(minSize, maxBucket))

  /** Ordered id pairs from a bucketed `ids` array column: a two-step
    * explode (position, then the tail slice) so per-row memory is O(cap),
    * never the O(cap^2) a single flattened combination array would
    * materialize. The ids arrive sorted (BoundedMinSet), so a < b holds
    * by construction. */
  private[ops] def pairsFromBuckets(buckets: DataFrame): DataFrame =
    buckets
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "a")))
      .select(col("a"),
        explode(slice(col("ids"), col("i") + lit(2),
          size(col("ids")) - col("i") - lit(1))).as("b"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"))

  /** MinHash + LSH near-dup pairs: band the signature (rows-per-band=2),
    * bucket candidates within bands (band-buckets hotter than `maxBucket`
    * are dropped — see boundedBuckets), then verify true bigram Jaccard
    * (over shingle hashes) >= tau. Returns (doc_a, doc_b, jaccard). */
  /** (doc_id, band, key) LSH band rows from a shingle-hash relation: the
    * signature banded with rows-per-band=2 and the band key folded into
    * ONE integer (h_{2b}*P + h_{2b+1} < 2^62) — integer shuffle/compare
    * keys instead of concatenated strings. */
  private def bandedOf(shm: DataFrame, numHashes: Int): DataFrame =
    bandFold(minhashSignaturesOf(shm, numHashes), numHashes)

  /** Fold a signature frame (doc_id, h0..h{n-1}) into (doc_id, band, key)
    * rows — rows-per-band = 2, key = h_{2b}*P + h_{2b+1} < 2^62. The ONE
    * definition of the band key: both the aggregated index path and the
    * row-local streaming probe go through it, so the spec-pinned equality
    * between them cannot drift. */
  private def bandFold(sig: DataFrame, numHashes: Int): DataFrame = {
    // an odd count would silently drop the last slot; 1 would produce
    // ZERO bands and an empty "no near-dups" answer with no error
    require(numHashes >= 2 && numHashes % 2 == 0,
      s"rows-per-band=2 banding needs an even numHashes >= 2, got $numHashes")
    val bands = numHashes / 2
    sig.select(col("doc_id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          (col(s"h${2 * b}") * lit(P) + col(s"h${2 * b + 1}")).as("key"))): _*))
        .as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))
  }

  /** The stored LSH index of a corpus: capped (band, key) buckets with
    * exact member-id arrays — what a production pipeline precomputes and
    * persists NEXT TO the corpus, so each incoming batch (or stream)
    * probes the index without ever touching corpus text again. Singleton
    * buckets kept: a lone corpus doc can still match an incoming doc. */
  def corpusBandIndex(corpus: DataFrame, numHashes: Int = 8,
      maxBucket: Int = 64): DataFrame =
    boundedBuckets(bandedOf(tracked(shingleHashes(corpus)), numHashes),
      Seq("band", "key"), "doc_id", maxBucket, minSize = 1)

  /** Raw, MERGEABLE band index: like [[corpusBandIndex]] but keeps
    * over-cap buckets as maxBucket+1-entry SENTINELS instead of dropping
    * them. Because BoundedMinSet keeps the SMALLEST ids, two raw indexes
    * merge exactly: a bucket of size <= maxBucket is its COMPLETE id set
    * (union the sides), and a sentinel on either side already implies
    * the combined bucket overflows. So [[mergeBandIndex]] over raw
    * partial indexes is bit-identical to rebuilding over the combined
    * corpus — incremental index maintenance: index each ingest batch
    * alone, merge into the stored index, never re-shingle old data.
    * Convert to the query shape (hot sentinels dropped) with
    * [[queryBandIndex]]. */
  def bandIndexRaw(corpus: DataFrame, numHashes: Int = 8,
      maxBucket: Int = 64): DataFrame =
    bandedOf(tracked(shingleHashes(corpus)), numHashes)
      .groupBy(col("band"), col("key"))
      .agg(graft.ops.BoundedMinSet(maxBucket + 1, col("doc_id")).as("ids"))
      .select(col("band"), col("key"), col("ids").as("ids", capMeta(maxBucket)))

  /** The cap rides ON the index as column metadata (it survives select,
    * cache, and the parquet round trip of a persisted index), so a merge
    * or query with a DIFFERENT cap than the one used at build time fails
    * loudly instead of silently breaking the bit-identical-to-rebuild
    * guarantee (the sentinel size and the bounded-min-set associativity
    * both depend on every party agreeing on one cap). */
  private val CapKey = "graft.lsh.maxBucket"

  private def capMeta(maxBucket: Int): org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(CapKey, maxBucket.toLong).build()

  /** Fail if `df` carries a build-time cap different from `maxBucket`.
    * Frames without the metadata (hand-built fixtures, pre-upgrade
    * indexes) pass through — the scaladoc contract still applies. */
  private def requireCap(df: DataFrame, maxBucket: Int, op: String): Unit =
    df.schema.fields.find(_.name == "ids").map(_.metadata)
      .filter(_.contains(CapKey)).foreach { m =>
        val built = m.getLong(CapKey)
        require(built == maxBucket.toLong,
          s"$op: maxBucket=$maxBucket does not match the cap the index " +
            s"was built with ($built) — merging or querying with a " +
            "different cap silently breaks merge-equals-rebuild")
      }

  /** Merge two raw band indexes — one re-aggregation with the same
    * bounded-min-set aggregator (its own mergeability is the proof: the
    * cap+1 smallest of the union of each side's cap+1 smallest IS the
    * combined cap+1 smallest). Cost is proportional to the INDEXES, not
    * the corpora: no shingles are recomputed. */
  def mergeBandIndex(a: DataFrame, b: DataFrame,
      maxBucket: Int = 64): DataFrame = {
    requireCap(a, maxBucket, "mergeBandIndex"); requireCap(b, maxBucket, "mergeBandIndex")
    a.select(col("band"), col("key"), col("ids"))
      .unionByName(b.select(col("band"), col("key"), col("ids")))
      .select(col("band"), col("key"), explode(col("ids")).as("doc_id"))
      .groupBy(col("band"), col("key"))
      .agg(graft.ops.BoundedMinSet(maxBucket + 1, col("doc_id")).as("ids"))
      .select(col("band"), col("key"), col("ids").as("ids", capMeta(maxBucket)))
  }

  /** The queryable shape of a raw index: hot sentinel buckets dropped —
    * identical to [[corpusBandIndex]] over the same corpus. */
  def queryBandIndex(raw: DataFrame, maxBucket: Int = 64): DataFrame = {
    requireCap(raw, maxBucket, "queryBandIndex")
    raw.filter(size(col("ids")).between(1, maxBucket))
  }

  /** CDC-driven maintenance of a stored raw band index: apply a change
    * feed's deletes and inserts with work proportional to the FEED, not
    * the index or the corpus. `deletedDocs` must carry the STORED row
    * content (doc_id, text) — exactly what the manifest change feed
    * replays for a delete — because a deleted doc's own deterministic
    * banding names precisely the buckets that contain it. Index rows
    * outside that touched set pass through a broadcast anti-join
    * UNMODIFIED (narrow scan, no shuffle, no explode); only the
    * feed-proportional touched buckets are rewritten. Per touched
    * bucket:
    *
    *  - complete bucket (size <= cap): deleted ids removed exactly;
    *  - sentinel bucket with a deleted id among its kept mins: its
    *    membership is stale, so the bucket is REBUILT by one banding
    *    pass over `headDocs` filtered (broadcast) to the flagged
    *    (band, key) set — and that corpus pass runs ONLY when some
    *    sentinel was actually flagged (rare: the delete must hit one of
    *    the cap+1 smallest ids of an over-cap bucket);
    *  - sentinel bucket with no deletion among its kept mins: kept
    *    as-is, and this is EXACT, not conservative — a delete that
    *    misses all cap+1 kept mins can only remove an id LARGER than
    *    every kept min (the kept set is the true cap+1 smallest), so at
    *    least cap+1 true members survive: the bucket is genuinely still
    *    over-cap and its cap+1 smallest ids are unchanged.
    *
    * Inserts merge the same way: buckets named by the insert batch's
    * banding go through [[mergeBandIndex]] (exact — the cap+1 smallest
    * of a union is contained in the union of each side's cap+1
    * smallest), everything else passes through untouched. Net: the
    * maintained index is bit-identical to a full rebuild from the head
    * table for EVERY feed, sentinels included — pinned by the OpsSpec
    * sentinel tests and q211's oracle.
    *
    * 100 TB shape: two narrow broadcast-anti-join passes over the index
    * (8-byte ids, no text) + shuffles over feed-sized relations only.
    * The two driver-side `head(1)` gates are bounded (they read one row
    * of feed-proportional frames) and exist to keep the no-delete /
    * no-flagged-sentinel paths free of their corpus/index arms. */
  def applyFeedToBandIndex(raw: DataFrame, insertDocs: DataFrame,
      deletedDocs: DataFrame, headDocs: DataFrame,
      numHashes: Int = 8, maxBucket: Int = 64): DataFrame = {
    requireCap(raw, maxBucket, "applyFeedToBandIndex")
    val capped = (ids: org.apache.spark.sql.Column) =>
      ids.as("ids", capMeta(maxBucket))
    // every branch below reads the stored index TWICE (pass-through
    // anti-join + touched join) — cached as a leaf so the caller's
    // (possibly expensive, e.g. a fresh bandIndexRaw) generator chain
    // executes once, and downstream plans stay constant-size
    val rawL = trackedLeaf(raw.select(col("band"), col("key"),
      capped(col("ids"))))
    // the deleted docs' own banding = the exact touched-bucket set
    // The delete-side touched probe and the insert-side index are
    // independent until the final merge — run BOTH define+materialize
    // groups concurrently (guide §2.6): the trackedLeaf definitions
    // themselves carry most of the cost here (Catalyst planning +
    // whole-stage codegen in queryExecution.toRdd), so the overlap
    // covers planning as well as the two gate jobs.
    var touched: DataFrame = null
    var insIdx: DataFrame = null
    var touchedEmpty = false
    var insEmpty = false
    TextKit.inParallel(
      () => {
        touched = trackedLeaf(bandedOf(trackedLeaf(shingleHashes(
            deletedDocs.select(col("doc_id"), col("text")))), numHashes)
          .select(col("band"), col("key"), col("doc_id")))
        touchedEmpty = touched.head(1).isEmpty
      },
      () => {
        insIdx = trackedLeaf(bandIndexRaw(insertDocs, numHashes, maxBucket))
        insEmpty = insIdx.head(1).isEmpty
      })
    val touchedKeys = touched.select(col("band"), col("key")).distinct()
    val afterDel: DataFrame =
      if (touchedEmpty)
        rawL.select(col("band"), col("key"), capped(col("ids")))
      else {
        val untouched = rawL
          .join(broadcast(touchedKeys), Seq("band", "key"), "left_anti")
        // feed-proportional (cached: read by the flagged probe AND the
        // survivor aggregation): only buckets a deleted doc belongs to
        val hit = trackedLeaf(rawL.join(broadcast(touchedKeys), Seq("band", "key"))
          .select(col("band"), col("key"),
            (size(col("ids")) === maxBucket + 1).as("was_sentinel"),
            explode(col("ids")).as("doc_id"))
          .join(touched.withColumn("_del", lit(true)),
            Seq("band", "key", "doc_id"), "left"))
        val flagged = trackedLeaf(hit.filter(col("was_sentinel") && col("_del"))
          .select(col("band"), col("key")).distinct())
        val survivors = hit.filter(col("_del").isNull)
          .join(broadcast(flagged), Seq("band", "key"), "left_anti")
          .groupBy(col("band"), col("key"))
          .agg(BoundedMinSet(maxBucket + 1, col("doc_id")).as("ids"))
        // the one corpus-scan arm, entered only when a sentinel's kept
        // min was actually deleted
        val rewritten =
          if (flagged.head(1).isEmpty) survivors
          else survivors.unionByName(
            bandedOf(tracked(shingleHashes(headDocs)), numHashes)
              .join(broadcast(flagged), Seq("band", "key"))
              .groupBy(col("band"), col("key"))
              .agg(BoundedMinSet(maxBucket + 1, col("doc_id")).as("ids")))
        untouched.select(col("band"), col("key"), col("ids"))
          .unionByName(rewritten)
          .select(col("band"), col("key"), capped(col("ids")))
      }
    if (insEmpty) afterDel
    else {
      // read twice below (pass-through anti-join + the merge join)
      val afterDelL = trackedLeaf(afterDel)
      val insKeys = insIdx.select(col("band"), col("key")).distinct()
      val pass = afterDelL
        .join(broadcast(insKeys), Seq("band", "key"), "left_anti")
        .select(col("band"), col("key"), capped(col("ids")))
      pass.unionByName(mergeBandIndex(
        afterDelL.join(broadcast(insKeys), Seq("band", "key"))
          .select(col("band"), col("key"), capped(col("ids"))),
        insIdx, maxBucket))
    }
  }

  /** MinHash signatures computed ROW-LOCALLY: hash the shingle array once
    * (per-row transform), then each slot is an array_min over it — no
    * shuffle at all, versus the aggregated form's groupBy. Numerically
    * identical to [[minhashSignatures]] (spec-pinned): min over a doc's
    * shingle multiset is the same whether folded per-row or per-group.
    * The property that matters: a streaming DataFrame can run THIS before
    * a stream-static join (a streaming groupBy could not precede one),
    * and at batch scale the signature stage costs zero exchanges. Docs
    * with fewer than 2 tokens (no shingles) are dropped, matching the
    * aggregated path. */
  def signaturesLocal(docs: DataFrame, numHashes: Int = 8): DataFrame = {
    require(numHashes <= hashA.length, s"at most ${hashA.length} hash slots")
    // spread() inspects the batch RDD; a streaming relation can't (and
    // needn't — micro-batches arrive pre-partitioned by the source)
    (if (docs.isStreaming) docs else spread(docs))
      .select(col("doc_id"),
        transform(shinglesOf(col("text")), s => md5Long(s)).as("ms"))
      .filter(size(col("ms")) > 0)
      .select(col("doc_id") +: (0 until numHashes).map(j =>
        array_min(transform(col("ms"), m => slotHash(m, j))).as(s"h$j")): _*)
  }

  /** Row-local LSH band rows (same folded integer keys as the aggregated
    * path) — the probe side of [[corpusBandIndex]]. */
  def bandRowsLocal(docs: DataFrame, numHashes: Int = 8): DataFrame =
    bandFold(signaturesLocal(docs, numHashes), numHashes)

  /** Default cap on the candidate-doc id count still broadcast to the
    * Jaccard-verify semi join: 8M ids x ~16 B/row is ~128 MB — well inside
    * executor memory and the 8 GB broadcast hard limit, far above every
    * benign corpus. Above it (a dup-heavy crawl where most docs have a
    * near-dup, so candDocs approaches the full doc-id set) the semi join
    * falls back to a shuffle — slower, but it cannot OOM the driver. */
  val DefaultBroadcastDocLimit: Long = 8L * 1000 * 1000

  /** Scaling-evidence instrumentation (ScaleSmoke): when set, [[
    * prefixFilterPairs]] counts its candidate-pair relation (one extra
    * job) into [[lastCandidatePairs]]. Off by default — production
    * calls must not pay a measurement job. */
  @volatile var instrument: Boolean = false

  /** Candidate pairs the last instrumented [[prefixFilterPairs]] fed to
    * the exact verify (-1 = not instrumented). */
  @volatile var lastCandidatePairs: Long = -1L

  /** The UNVERIFIED candidate pairs the banded LSH index proposes — the
    * blocking stage alone, before any Jaccard verification. Exposed for
    * blocking-quality evaluation ([[graft.ops.Eval.pairMetrics]]): the
    * candidate set's precision/recall against exact near-dup truth is
    * the metric that tunes band count and bucket caps. */
  def minhashLshCandidates(docs: DataFrame, numHashes: Int = 8,
      maxBucket: Int = 64): DataFrame = {
    val banded = bandedOf(tracked(shingleHashes(docs)), numHashes)
    val buckets = boundedBuckets(banded, Seq("band", "key"), "doc_id",
      maxBucket)
    pairsFromBuckets(buckets).distinct()
  }

  def minhashLshPairs(docs: DataFrame, tau: Double = 0.6,
      numHashes: Int = 8, maxBucket: Int = 64,
      broadcastDocLimit: Long = DefaultBroadcastDocLimit): DataFrame = {
    val shm = trackedLeaf(shingleHashes(docs))
    // signatures via the aggregated path: it reuses the CACHED shm the
    // verify stage reads anyway, so the signature groupBy is the only
    // marginal cost. The row-local alternative (bandRowsLocal) re-hashes
    // every shingle from text and measured no faster here — it exists for
    // the streaming probe, where an aggregation cannot precede the join.
    val banded = bandedOf(shm, numHashes)
    // persisted: read twice (pair explode + the candidate-doc id set)
    val buckets = trackedLeaf(
      boundedBuckets(banded, Seq("band", "key"), "doc_id", maxBucket))
    // a pair can share several band-buckets -> distinct
    val cand = pairsFromBuckets(buckets).distinct()
    val candDocs = buckets.select(explode(col("ids")).as("doc_id"))
    verifyJaccard(shm, cand, tau, candDocs,
      candDocBound(buckets), broadcastDocLimit)
  }

  /** Upper bound on the candidate-doc id count: total bucket membership
    * (each kept bucket is cap-bounded). One cheap aggregate over the
    * CACHED bucket relation the caller materializes anyway — never a scan
    * of the corpus. */
  private def candDocBound(buckets: DataFrame): Long =
    Option(buckets.agg(sum(size(col("ids")))).head.get(0))
      .fold(0L)(_.asInstanceOf[Number].longValue)

  /** Incremental (cross-corpus) near-dup: pairs (doc_a in `corpus`,
    * doc_b in `fresh`) whose bigram Jaccard >= tau — the admission check a
    * training pipeline runs on each incoming batch against the already-
    * ingested corpus, without re-pairing the corpus against itself.
    * Doc ids must be disjoint across the two inputs.
    *
    * Scale shape: the corpus side is banded and hot-bucket-capped once (in
    * production those band rows are precomputed and stored with the
    * corpus; here they derive from the corpus input), then candidates come
    * from an equi-join of the incoming batch's band rows against the
    * capped corpus buckets — work proportional to the BATCH, not the
    * corpus. Corpus-corpus and fresh-fresh pairs are never generated.
    * Singleton corpus buckets are kept (minSize = 1): a lone corpus doc
    * can still match an incoming doc. */
  def minhashLshPairsAgainst(corpus: DataFrame, fresh: DataFrame,
      tau: Double = 0.6, numHashes: Int = 8, maxBucket: Int = 64,
      broadcastDocLimit: Long = DefaultBroadcastDocLimit): DataFrame = {
    val shmC = trackedLeaf(shingleHashes(corpus))
    val shmF = trackedLeaf(shingleHashes(fresh))
    val buckets = boundedBuckets(bandedOf(shmC, numHashes),
      Seq("band", "key"), "doc_id", maxBucket, minSize = 1)
    // a pair can share several band-buckets -> distinct; persisted because
    // both the verify join and the candidate-doc sets read it
    val cand = trackedLeaf(buckets
      .join(bandedOf(shmF, numHashes)
        .select(col("band"), col("key"), col("doc_id").as("doc_b")),
        Seq("band", "key"))
      .select(explode(col("ids")).as("doc_a"), col("doc_b"))
      .distinct())
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b")))
    // ids are disjoint, so one unioned shingle relation serves both sides;
    // bound: each distinct pair contributes at most two candidate ids
    // (an aggregate over the cached pair relation the verify join reads)
    verifyJaccard(shmC.union(shmF), cand, tau, candDocs,
      2L * cand.count(), broadcastDocLimit)
  }

  /** True bigram-shingle Jaccard (over 60-bit shingle hashes — collisions
    * are negligible and the oracle mirrors the hashing) for given candidate
    * pairs over a (cached) shingle-hash set. `candDocs` (ids of docs that
    * can appear in a pair, cheap to derive from the caller's cached
    * candidate-generation relations) is semi-joined onto the shingle set
    * first, so the expensive collect_set aggregation touches only candidate
    * docs — a tiny, cap-bounded fraction of the corpus — instead of every
    * document. Each doc's shingle hashes then aggregate to one long-array
    * row, so verification is two narrow joins on the pair table plus a
    * per-pair integer array_intersect — no exploded-row pair join. */
  /** Exact-threshold set-similarity join via PREFIX FILTERING (the
    * SSJoin/ppjoin family, Chaudhuri et al. 2006): order every
    * document's distinct shingles by global rarity (df, then hash), keep
    * only the first |d| - ceil(tau*|d|) + 1 of them, and generate
    * candidates ONLY from shared prefix tokens — the pigeonhole argument
    * guarantees NO true pair is lost at Jaccard >= tau, while the prefix
    * (a (1-tau) fraction, rarest-first) carries far fewer postings than
    * the full token relation. The same exact-Jaccard verify as the LSH
    * family finishes the job, so unlike minhash this join is EXACT:
    * precision and recall are both 1.0 by construction.
    *
    * Shape at scale: one df aggregation, one per-DOCUMENT window (state
    * = a document's own tokens), prefix-posting self-join on the token
    * (rarest-first ordering keeps those lists short; a df cap on prefix
    * tokens guards adversarial corpora), then the shared verify. */
  def prefixFilterPairs(docs: DataFrame, tau: Double = 0.5,
      maxPrefixDf: Int = 256,
      broadcastDocLimit: Long = DefaultBroadcastDocLimit,
      suffixVerify: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tau > 0 && tau <= 1, s"tau out of range: $tau")
    val shm = trackedLeaf(shingleHashes(docs).distinct())
    // df and n as WINDOW counts, not standalone aggregations: the old
    // groupBy(m)/groupBy(doc_id) + join-back shape paid two extra
    // aggregation stages and two joins for numbers the window exchanges
    // already in flight can produce. df = count over partition(m) (shm
    // is distinct, so occurrences == containing docs); n = count over
    // the UNORDERED doc_id partition (whole-partition frame), stacked on
    // the row_number window so both share one doc_id exchange — and the
    // ordered window's (doc_id, df, m) sort already satisfies the
    // unordered one's clustering, so no second sort is paid.
    val wDoc = Window.partitionBy("doc_id").orderBy(col("df"), col("m"))
    // postings carry (rank, size): the ppjoin LENGTH and POSITIONAL
    // filters run inside the join condition, killing the candidate
    // explosion before the (expensive) distinct + exact verify — on the
    // sf0.1 corpus they cut 7.9M raw prefix pairs to the true-pair
    // order of magnitude
    val pref = shm
      .withColumn("df", count(lit(1)).over(Window.partitionBy("m")))
      .withColumn("rk", row_number().over(wDoc))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .filter(col("rk") <=
        col("n") - ceil(lit(tau) * col("n")).cast("long") + 1)
      .filter(col("df") <= maxPrefixDf) // adversarial-corpus guard
      .select(col("doc_id"), col("m"), col("rk"), col("n"))
    val a = pref.select(col("m"), col("doc_id").as("doc_a"),
      col("rk").as("rka"), col("n").as("na"))
    val b = pref.select(col("m").as("m2"), col("doc_id").as("doc_b"),
      col("rk").as("rkb"), col("n").as("nb"))
    // alpha = ceil(tau/(1+tau) * (na+nb)): the minimum overlap a
    // tau-pair must have; ubound = best still-possible overlap given
    // the matched prefix positions
    val alpha = ceil(lit(tau / (1 + tau)) *
      (col("na") + col("nb")).cast("double")).cast("long")
    val ubound = lit(1L) +
      least(col("na") - col("rka"), col("nb") - col("rkb"))
    val cand = a.join(b,
        col("m") === col("m2") && col("doc_a") < col("doc_b") &&
          // length filter: sizes within a factor of tau of each other
          col("nb") >= ceil(lit(tau) * col("na")).cast("long") &&
          col("na") >= ceil(lit(tau) * col("nb")).cast("long") &&
          // positional filter (ppjoin)
          ubound >= alpha)
      .select(col("doc_a"), col("doc_b")).distinct()
    if (instrument) lastCandidatePairs = cand.count()
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b")))
    if (suffixVerify) verifyJaccardMerge(shm, cand, tau, candDocs)
    else verifyJaccard(shm, cand, tau, candDocs, Long.MaxValue,
      broadcastDocLimit)
  }

  /** ppjoin+-style SUFFIX-bounded exact verify — same contract as
    * [[verifyJaccard]] (same surviving pairs, bit-identical jaccard
    * doubles), different evaluation: each candidate pair's SORTED
    * signature arrays merge in a typed tight loop that EARLY-EXITS the
    * moment the residual overlap upper bound `inter + min(remaining_a,
    * remaining_b)` can no longer reach the tau threshold — the ppjoin+
    * suffix probe collapsed into the verify scan. `array_intersect`
    * always walks both arrays and materializes the intersection; the
    * merge stops at the first provable reject and allocates nothing.
    * The feasibility cut-off `alpha` is computed by exact integer
    * adjustment around the double estimate, so the prune is precisely
    * `best-achievable jaccard < tau` under the SAME double arithmetic
    * as the final filter — flag-gated and hash-identical by
    * construction (q189's oracle gates it; ScaleSmoke measures the
    * trade). */
  private def verifyJaccardMerge(shm: DataFrame, cand: DataFrame,
      tau: Double, candDocs: DataFrame): DataFrame = {
    val spark = shm.sparkSession
    import spark.implicits._
    val docSets = shm.join(candDocs, Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("m"))).as("ss"))
    cand
      .join(docSets.select(col("doc_id").as("doc_a"), col("ss").as("sa")),
        "doc_a")
      .join(docSets.select(col("doc_id").as("doc_b"), col("ss").as("sb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"), col("sa"), col("sb"))
      .as[(Long, Long, Array[Long], Array[Long])]
      .flatMap { case (a, b, sa, sb) =>
        val na = sa.length; val nb = sb.length
        def jac(i: Long): Double = i.toDouble / (na + nb - i).toDouble
        // smallest integer overlap whose jaccard clears tau, exact
        // under the final filter's own double arithmetic
        var alpha = math.min(math.max(0L,
          math.ceil(tau / (1 + tau) * (na + nb)).toLong),
          math.min(na, nb).toLong)
        while (alpha <= math.min(na, nb) && jac(alpha) < tau) alpha += 1
        while (alpha > 0 && jac(alpha - 1) >= tau) alpha -= 1
        var i = 0; var j = 0; var inter = 0L
        var feasible = alpha <= math.min(na, nb)
        while (feasible && i < na && j < nb && inter < alpha) {
          if (inter + math.min(na - i, nb - j) < alpha) feasible = false
          else if (sa(i) == sb(j)) { inter += 1; i += 1; j += 1 }
          else if (sa(i) < sb(j)) i += 1
          else j += 1
        }
        if (feasible && inter >= alpha) {
          // past alpha the pair is IN; finish the merge for the exact
          // intersection the reported jaccard needs
          while (i < na && j < nb) {
            if (sa(i) == sb(j)) { inter += 1; i += 1; j += 1 }
            else if (sa(i) < sb(j)) i += 1
            else j += 1
          }
          Iterator.single((a, b, jac(inter)))
        } else Iterator.empty
      }
      .toDF("doc_a", "doc_b", "jaccard")
  }

  private def verifyJaccard(shm: DataFrame, cand: DataFrame,
      tau: Double, candDocs: DataFrame, candDocUpperBound: Long,
      broadcastDocLimit: Long): DataFrame = {
    // On benign corpora the candidate-doc id set is a tiny, cap-bounded
    // fraction of the corpus, and broadcasting it keeps the semi join off
    // the shuffle path (without the hint this plans as a sort-merge join
    // that sorts the whole shingle set). But the per-bucket caps bound
    // each BUCKET, not the total: on a dup-heavy corpus candDocs
    // approaches the full doc-id set, and a forced broadcast would OOM
    // the driver — so the hint is gated on the caller's cheap upper
    // bound and the semi join degrades to a shuffle past the limit.
    // left_semi keeps set semantics without the callers paying a
    // distinct() shuffle on their (duplicated) bucket-membership
    // projection.
    val semiSide =
      if (candDocUpperBound <= broadcastDocLimit) broadcast(candDocs)
      else candDocs
    val docSets = shm.join(semiSide, Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(collect_set(col("m")).as("ss"))
      .select(col("doc_id"), col("ss"), size(col("ss")).as("n"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    cand
      .join(docSets.select(col("doc_id").as("doc_a"), col("ss").as("sa"),
        col("n").as("na")), "doc_a")
      .join(docSets.select(col("doc_id").as("doc_b"), col("ss").as("sb"),
        col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (inter.cast(DoubleType) /
          (col("na") + col("nb") - inter).cast(DoubleType)).as("jaccard"))
      .filter(col("jaccard") >= tau)
  }

  /** SimHash (16-bit here; width is a parameter): per bit, sum +-1 over the
    * document's distinct token hashes, sign -> bit. One explode + one agg;
    * the bit loop is column arithmetic, not extra passes. */
  def simhash(docs: DataFrame, bits: Int = 16): DataFrame = {
    // per-doc token dedup happens inside the row (array_distinct) — a
    // global distinct() would shuffle the exploded relation for the same
    // result, since tokens only repeat within a document
    val tok = docs
      .select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("t"))
      .select(col("doc_id"), md5Long(col("t")).as("h"))
    val bitSums = (0 until bits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"s$b"))
    tok.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(b =>
          when(col(s"s$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** N-gram Jaccard near-dup pairs via a frequency-capped inverted index
    * over shingle HASHES: shingles occurring in more than `maxDf` docs are
    * dropped from candidate generation (stop-shingle guard — this is what
    * keeps the pair join linear-ish at scale), then true Jaccard (over all
    * shingle hashes) >= tau. Hashing first means the inverted index
    * shuffles 8-byte keys, not shingle strings. */
  def ngramJaccardPairs(docs: DataFrame, tau: Double = 0.5,
      maxDf: Int = 20,
      broadcastDocLimit: Long = DefaultBroadcastDocLimit): DataFrame = {
    val shm = tracked(shingleHashes(docs))
    // df = number of DOCS containing the shingle (shm is not deduplicated);
    // the df band keeps only discriminative shingles, so each kept group is
    // small and pairsFromBuckets' cap (maxDf) is exact, not lossy
    val buckets = tracked(boundedBuckets(shm, Seq("m"), "doc_id", maxDf))
    val cand = pairsFromBuckets(buckets).distinct()
    val candDocs = buckets.select(explode(col("ids")).as("doc_id"))
    verifyJaccard(shm, cand, tau, candDocs,
      candDocBound(buckets), broadcastDocLimit)
  }

  /** Long-exact-substring duplicate detection — the fixed-window
    * approximation of suffix-array training-data dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"): two
    * documents sharing ANY identical `window`-token run are reported with
    * the count of distinct shared windows (a w-token shared run yields
    * w - window + 1 hits, so the count also grades overlap length).
    *
    * Scale shape: same inverted-index discipline as the rest of the
    * family — one hash per window occurrence, distinct (doc, window-hash)
    * pairs, a document-frequency band (2..maxDf) so boilerplate windows
    * shared by half the corpus can't go quadratic (they are boilerplate,
    * not plagiarism — [[lineDedup]] is the tool for those), O(cap)
    * per-row pair explode. */
  def sharedSubstringPairs(docs: DataFrame, window: Int = 20,
      maxDf: Int = 50): DataFrame = {
    // no distinct() and no cache: BoundedMinSet already ignores duplicate
    // (doc, hash) occurrences and the relation has exactly one consumer —
    // a distinct here would re-shuffle the largest relation in the op
    // for nothing (the same rationale shingleSet documents)
    val wsh = spread(docs)
      .select(col("doc_id"), explode(shinglesOf(col("text"), window)).as("s"))
      .select(col("doc_id"), md5Long(col("s")).as("m"))
    val buckets = boundedBuckets(wsh, Seq("m"), "doc_id", maxDf)
    pairsFromBuckets(buckets)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_windows"))
  }

  /** Repeated-span EXCISION — the REMOVAL half of exact-substring
    * training-data dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"): every `window`-token run whose hash occurs
    * at least `minCount` times across the corpus (counting every
    * occurrence, INCLUDING repeats inside a single document — a doc that
    * plagiarizes itself still gets cut) is excised from every document
    * containing it, overlapping cuts merging naturally at the token
    * level. [[sharedSubstringPairs]] reports who shares what; this
    * operator produces the cleaned corpus a trainer actually reads.
    * Emits per-document token totals, removed-token counts, and the
    * rebuilt text's length + md5 (the downstream audit key, same
    * convention as [[lineDedup]]).
    *
    * Scale shape: one shingle pass (positions ride the posexplode), an
    * 8-byte-hash-keyed occurrence count with map-side combine, and the
    * duplicated-hash relation is the aggregate FILTERED to count >=
    * minCount — proportional to actually-duplicated content, not the
    * corpus. Flagged starts fan out window tokens each (linear in
    * duplicated volume), the cut itself is one (doc_id, pos) anti-join,
    * and reassembly sorts only each document's OWN tokens inside a
    * single aggregation — no window function, no global sort, never
    * all-pairs. */
  def exciseRepeatedSpans(docs: DataFrame, window: Int = 20,
      minCount: Long = 2L): DataFrame = {
    val toks = tracked(spread(docs)
      .select(col("doc_id"), posexplode(tokens(col("text")))
        .as(Seq("pos", "tok"))))
    val wsh = tracked(spread(docs)
      .select(col("doc_id"),
        posexplode(shinglesOf(col("text"), window)).as(Seq("start", "s")))
      .select(col("doc_id"), col("start"), md5Long(col("s")).as("m")))
    // occurrence count, NOT distinct-doc df: within-doc repetition is
    // exactly what this pass exists to cut (contrast lineDedup's df)
    val dup = wsh.groupBy(col("m"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= minCount)
      .select(col("m"))
    val removed = wsh.join(dup, Seq("m"))
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + (window - 1)))
          .as("pos"))
    val rebuilt = toks.join(removed, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ").as("clean"))
    docs.select(col("doc_id"), size(tokens(col("text"))).as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .cast("long").as("n_removed"),
        length(coalesce(col("clean"), lit(""))).cast("long")
          .as("n_chars_kept"),
        md5(coalesce(col("clean"), lit(""))).as("clean_hash"))
  }

  /** Embedding cosine near-dup: exact integer-quantized cosine over
    * candidate pairs. Small inputs go brute force; the documented scale
    * path is embeddingNearDupBlocked. */
  def embeddingNearDup(emb: DataFrame, tau: Double = 0.4): DataFrame = {
    // quantize once per row; the O(n^2) stage below is then a codegen'd
    // integer loop per pair (LongArrayDot), not per-element lambdas
    val e = spread(emb).select(col("vec_id"), quantVec(col("embedding")).as("qv"))
      .withColumn("nsq", dotPre(col("qv"), col("qv")))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cosineQ(dotPre(col("a.qv"), col("b.qv")),
          col("a.nsq"), col("b.nsq")).as("cosine"))
      .filter(col("cosine") >= tau)
  }

  /** Scale-path embedding near-dup: candidates are restricted to pairs
    * sharing a sign-bit LSH bucket (Similarity.signBucket), so the pair
    * stage shuffles on bucket id and the per-bucket work is |bucket|^2
    * instead of a global cross join. Recall < 1 by construction: pairs
    * whose sign patterns differ in the leading dimensions are never
    * compared — the standard LSH trade, bounded by using few bits. */
  def embeddingNearDupBlocked(emb: DataFrame, tau: Double = 0.4,
      bits: Int = 4, maxBucket: Int = 4096): DataFrame = {
    // cached: the pair table joins back to it twice for vectors/norms
    val e = tracked(spread(emb)
      .select(col("vec_id"), quantVec(col("embedding")).as("qv"),
        Similarity.signBucket(col("embedding"), bits).as("bucket"))
      .withColumn("nsq", dotPre(col("qv"), col("qv"))))
    // each vector lives in exactly one bucket -> pairs are already unique
    val cand = pairsFromBuckets(boundedBuckets(
        e.select(col("bucket"), col("vec_id")), Seq("bucket"), "vec_id",
        maxBucket))
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"))
    cand
      .join(e.select(col("vec_id"), col("qv"), col("nsq")).as("a"),
        col("vec_a") === col("a.vec_id"))
      .join(e.select(col("vec_id").as("vid_b"), col("qv").as("qv_b"),
        col("nsq").as("nsq_b")).as("b"), col("vec_b") === col("vid_b"))
      .select(col("vec_a"), col("vec_b"),
        cosineQ(dotPre(col("a.qv"), col("qv_b")), col("a.nsq"), col("nsq_b"))
          .as("cosine"))
      .filter(col("cosine") >= tau)
  }

  /** SoftDeDup: down-WEIGHT duplicate clusters instead of dropping them
    * (the public soft-dedup idea — duplicated text carries signal, so a
    * training mix reweights by 1/cluster-size rather than keeping one
    * arbitrary survivor). Every document gets weight_permille =
    * 1000 div n where n is its near-dup cluster size (singletons keep
    * 1000); a k-way cluster's TOTAL weight is ~one document's, so the
    * effective epoch mix matches hard dedup in expectation while every
    * variant stays sampleable. Cost: the CC labels the pair generator
    * already bounded, one size aggregation, two keyed left joins against
    * the corpus — the gentler sibling of the anti-join rejection
    * filter. */
  def softDedupWeights(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val labels = Components.connectedComponents(pairs)
    val sizes = labels.groupBy(col("component_id"))
      .agg(count(lit(1)).as("cluster_size"))
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .join(sizes, Seq("component_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .withColumn("weight_permille", expr("1000 div cluster_size"))
  }
}
