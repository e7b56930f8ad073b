package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextKit._

/** Approximate-nearest-neighbor search over an embedding column
  * (`embeddings(vec_id, embedding: array<float>, label)`).
  *
  * Two paths:
  *  - `bruteTopK`: exact cosine top-k — the correctness baseline. The query
  *    set is broadcast; the corpus side streams, so the cost is one scan of
  *    the corpus per batch of queries (fine at any corpus size when the
  *    query batch is bounded).
  *  - `lshTopK`: sign-bit LSH (axis hyperplanes): corpus and queries are
  *    bucketed by the sign pattern of the leading dimensions and only
  *    same-bucket pairs are scored — the 100 TB path: candidate generation
  *    is a bucket equi-join (shuffle on bucket id), never all-pairs.
  */
object Similarity {

  /** Quantize once per row (qv: array<bigint>) so pairwise scoring is a
    * codegen'd integer loop (LongArrayDot), not per-element lambdas. */
  private def withNorm(emb: DataFrame): DataFrame =
    spread(emb).select(col("vec_id"), col("embedding"),
        quantVec(col("embedding")).as("qv"))
      .withColumn("nsq", dotPre(col("qv"), col("qv")))

  /** Exact cosine top-k for the query rows (vec_id < nQueries), self
    * excluded; rank ties broken by candidate id. */
  def bruteTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = withNorm(emb)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"),
        col("nsq").as("qnsq"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineQ(dotPre(col("qqv"), col("qv")), col("qnsq"), col("nsq"))
          .as("cosine"))
    TopKAgg.topKPerQuery(scored, "query_id", "neighbor_id", "cosine", k)
  }

  /** Hard-negative mining for contrastive / embedding training
    * (triplet-loss data prep, Schroff et al. 2015): for each anchor
    * vector the top `nneg` HIGHEST-cosine candidates with a DIFFERENT
    * label — the hardest negatives, the pairs that actually move a
    * metric-learning objective — plus the anchor's hardest positive
    * cosine and the semi-hard flag (negative still farther than the
    * hardest positive: `cosine < pos_cosine`, the FaceNet band; 0 when
    * the anchor has no same-label peer).
    *
    * Shape at scale: ONE corpus stream past the broadcast anchors
    * scores positives and negatives together; the negative tail is the
    * bounded [[TopKAgg]] aggregate (nneg rows of state per anchor,
    * map-side combinable), the positive tail one conditional-max
    * aggregate, and the flag join touches anchors × nneg rows. Exact
    * integer dots until the final cosine — DuckDB-oracle exact. */
  def hardNegatives(emb: DataFrame, nAnchors: Int = 10,
      nneg: Int = 5): DataFrame = {
    val e = tracked(spread(emb)
      .select(col("vec_id"), col("label"),
        quantVec(col("embedding")).as("qv"))
      .withColumn("nsq", dotPre(col("qv"), col("qv"))))
    val a = e.filter(col("vec_id") < nAnchors)
      .select(col("vec_id").as("anchor_id"),
        col("label").as("anchor_label"),
        col("qv").as("aqv"), col("nsq").as("ansq"))
    val scored = e.join(broadcast(a), col("vec_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("vec_id").as("cand_id"),
        (col("label") =!= col("anchor_label")).as("is_neg"),
        cosineQ(dotPre(col("aqv"), col("qv")), col("ansq"), col("nsq"))
          .as("cosine"))
    val pos = scored.filter(!col("is_neg"))
      .groupBy(col("anchor_id"))
      .agg(max(col("cosine")).as("pos_cosine"))
    TopKAgg.topKPerQuery(scored.filter(col("is_neg")),
        "anchor_id", "cand_id", "cosine", nneg)
      .withColumnRenamed("neighbor_id", "negative_id")
      .join(broadcast(pos), Seq("anchor_id"), "left")
      .select(col("anchor_id"), col("negative_id"), col("cosine"),
        col("rank"), col("pos_cosine"),
        coalesce(col("cosine") < col("pos_cosine"), lit(false))
          .cast("int").as("semi_hard"))
  }

  /** Binary (sign) quantized ANN — the 1-bit-per-dimension end of the
    * quantization family (PQ 1 byte/subvector, SQ8 1 byte/dim, this
    * 1 BIT/dim): each dimension contributes sign(x) > 0, the 64 dims
    * pack into TWO non-negative 32-bit halves (`h_lo` dims 1–32,
    * `h_hi` dims 33–64 — the dHash two-half convention, so neither
    * engine ever touches the BIGINT sign bit), the shortlist ranks by
    * Hamming distance `bit_count(xor)` (for sign vectors Hamming is a
    * monotone surrogate of angular distance — the SimHash/LSH cosine
    * estimate), and the final top-k re-ranks the shortlist with the
    * exact full-precision cosine. 256 B/vector -> 8 B stored.
    *
    * Shape at scale: identical plan to [[sq8TopK]] minus the range
    * aggregate — encode is row-local column arithmetic, the corpus
    * streams once past the broadcast queries carrying only the two
    * packed words (the 32× memory-bandwidth win; at 100 TB the binary
    * index fits where the raw vectors cannot), and the rerank touches
    * only nQueries × shortlist rows. Integer end to end until the
    * final cosine — codes, Hamming, shortlist, and rerank reproduce
    * bit-exactly in the DuckDB oracle. */
  def binaryTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      shortlist: Int = 32): DataFrame = {
    def half(off: Int) = expr(
      s"aggregate(transform(slice(qv, $off, 32), " +
        "(x, i) -> IF(x > 0, shiftleft(1L, i), 0L)), 0L, (a, b) -> a + b)")
    val e = tracked(withNorm(emb)
      .withColumn("h_lo", half(1)).withColumn("h_hi", half(33)))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"),
        col("nsq").as("qnsq"), col("h_lo").as("q_lo"),
        col("h_hi").as("q_hi"))
    val short = TopKAgg.topKPerQueryAsc(
      e.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"),
          (bit_count(col("q_lo").bitwiseXOR(col("h_lo"))) +
            bit_count(col("q_hi").bitwiseXOR(col("h_hi"))))
            .cast("long").as("hamming")),
      "query_id", "cand_id", "hamming", shortlist)
    val rescored = short.select(col("query_id"), col("neighbor_id"))
      .join(e.select(col("vec_id").as("neighbor_id"),
        col("qv").as("nqv"), col("nsq").as("nnsq")), Seq("neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("qqv"), col("qnsq"))),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineQ(dotPre(col("qqv"), col("nqv")), col("qnsq"), col("nnsq"))
          .as("cosine"))
    TopKAgg.topKPerQuery(rescored, "query_id", "neighbor_id", "cosine", k)
  }

  /** SQ8 scalar-quantized ANN — the third member of the quantization
    * family (alongside PQ and IVF-PQ): each dimension is affinely
    * quantized to 8 bits against the CORPUS min/max of that dimension,
    * the shortlist is ranked by the asymmetric integer dot of the exact
    * query against the candidate's integer DECODE (ADC), and the final
    * top-k re-ranks the shortlist with the exact full-precision cosine.
    * 4 bytes/dim -> 1 byte/dim stored, with the rerank restoring exact
    * ordering on the shortlist — the FAISS `SQ8` index shape. All
    * integer until the final cosine, so the DuckDB oracle reproduces
    * codes, shortlist, and rerank exactly.
    *
    * Shape at scale: the per-dimension min/max is ONE aggregate
    * producing a 2×dim-row relation (broadcast back — no driver
    * round-trip); encoding is row-local column arithmetic; the
    * shortlist is the same broadcast-queries × corpus stream as
    * [[bruteTopK]] but against 1-byte codes (the memory-bandwidth win
    * that matters when the corpus doesn't fit in RAM); the rerank
    * touches only nQueries × shortlist rows. */
  def sq8TopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      shortlist: Int = 32): DataFrame = {
    val e = tracked(withNorm(emb))
    // per-dimension corpus min/max of the quantized values, folded to a
    // single row of two dim-length arrays (ordered by dimension)
    val ranges = e.select(posexplode(col("qv")).as(Seq("d", "x")))
      .groupBy(col("d")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .groupBy()
      .agg(transform(array_sort(collect_list(struct(col("d"), col("mn")))),
          s => s.getField("mn")).as("mns"),
        transform(array_sort(collect_list(struct(col("d"), col("mx")))),
          s => s.getField("mx")).as("mxs"))
    // 8-bit affine code per dimension: ((x - mn) * 255) div max(mx-mn, 1),
    // and its integer DECODE recon = mn + (code * (mx - mn)) div 255. The
    // shortlist scores the exact query against the RECONSTRUCTION
    // (asymmetric ADC, the FAISS SQ8 shape) — raw code·code dots carry a
    // large uncentered +128-ish offset per dimension that swamps the
    // signal (measured on the isotropic fixture: recall 0.28 symmetric vs
    // 1.00 asymmetric at shortlist 50).
    // Cached: the coded relation feeds the query broadcast, the corpus
    // stream, and the rerank fetch — one encode pass, not three.
    val coded = tracked(e.crossJoin(broadcast(ranges))
      .withColumn("code", expr(
        """transform(qv, (x, i) ->
             ((x - mns[i]) * 255) div greatest(mxs[i] - mns[i], 1L))"""))
      .withColumn("recon", expr(
        """transform(code, (c, i) ->
             mns[i] + (c * (mxs[i] - mns[i])) div 255)"""))
      .select(col("vec_id"), col("qv"), col("nsq"), col("code"),
        col("recon")))
    val q = coded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"),
        col("nsq").as("qnsq"))
    val short = TopKAgg.topKPerQueryDesc(
      coded.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"),
          dotPre(col("qqv"), col("recon")).as("sq_dot")),
      "query_id", "cand_id", "sq_dot", shortlist)
    val rescored = short.select(col("query_id"), col("neighbor_id"))
      .join(coded.select(col("vec_id").as("neighbor_id"),
        col("qv").as("nqv"), col("nsq").as("nnsq")), Seq("neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("qqv"), col("qnsq"))),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineQ(dotPre(col("qqv"), col("nqv")), col("qnsq"), col("nnsq"))
          .as("cosine"))
    TopKAgg.topKPerQuery(rescored, "query_id", "neighbor_id", "cosine", k)
  }

  /** Matryoshka (MRL) truncated-dimension ANN: shortlist by the integer
    * dot product over the first `dPrefix` dimensions only, re-rank the
    * shortlist with the exact full-dimension cosine. With
    * matryoshka-trained embeddings the prefix carries most of the
    * signal, so the corpus-wide pass reads dPrefix/dim of the bytes —
    * the "coarse search in the nested prefix, refine in full precision"
    * pattern from the MRL paper. Deterministic end to end (integer
    * prefix dots, exact rerank), oracle-checkable.
    *
    * Shape at scale: identical plan to [[sq8TopK]] minus the range
    * aggregate — one broadcast-queries corpus stream over short arrays,
    * then a shortlist-bounded rerank. At 100 TB the prefix pass is the
    * scan-cost lever: 4× fewer bytes at dPrefix = dim/4. */
  def matryoshkaTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      dPrefix: Int = 16, shortlist: Int = 32): DataFrame = {
    val e = tracked(withNorm(emb)
      .withColumn("pqv", slice(col("qv"), 1, dPrefix)))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"),
        col("nsq").as("qnsq"), col("pqv").as("qpqv"))
    val short = TopKAgg.topKPerQueryDesc(
      e.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"),
          dotPre(col("qpqv"), col("pqv")).as("pref_dot")),
      "query_id", "cand_id", "pref_dot", shortlist)
    val rescored = short.select(col("query_id"), col("neighbor_id"))
      .join(e.select(col("vec_id").as("neighbor_id"),
        col("qv").as("nqv"), col("nsq").as("nnsq")), Seq("neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("qqv"), col("qnsq"))),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineQ(dotPre(col("qqv"), col("nqv")), col("qnsq"), col("nnsq"))
          .as("cosine"))
    TopKAgg.topKPerQuery(rescored, "query_id", "neighbor_id", "cosine", k)
  }

  /** Hybrid retrieval: reciprocal-rank fusion of the keyword ranking
    * ([[TextAnalysis.search]]'s integer tf-idf) and the embedding cosine
    * ranking against one query vector, joined on document id (assumes
    * doc_id-aligned embeddings, the `documents`/`embeddings` convention).
    * RRF score = sum over systems of 1/(rrfK + rank) — computed from
    * INTEGER ranks, so the doubles are bit-identical cross-engine; a doc
    * missing from one system contributes only the other's term. The
    * modern lexical+semantic search shape, end to end in two broadcast
    * joins plus a TakeOrdered.
    *
    * Scale shape: each system contributes only its top-`poolSize`
    * candidates (TakeOrdered — the standard RRF-over-pools form, never a
    * full-corpus ranking): the keyword side only ever shuffles matching
    * postings, the vector side streams the corpus past one broadcast
    * query vector, and the rank windows run over pool-sized (constant)
    * relations, so their single-task sort is bounded by `poolSize`
    * whatever the corpus size. */
  def hybridSearch(docs: DataFrame, emb: DataFrame, terms: Seq[String],
      queryVecId: Long = 0L, k: Int = 10, poolSize: Int = 100,
      rrfK: Int = 60, useBm25: Boolean = false): DataFrame = {
    // either lexical ranker yields (doc_id, score, ...) ordered the same
    // way; BM25 adds document-length normalization to the pool.
    // Pool ranks come from the bounded TopKAgg aggregators (tie-break
    // identical to a (score desc, doc_id) row_number), NOT a
    // constant-partition window: Catalyst folds a literal partition key
    // to an EMPTY partition spec, so the window form still planned a
    // single-partition WindowExec and warned on every run — the
    // aggregator holds at most poolSize rows per task and pre-combines
    // map-side.
    val kw0 =
      if (useBm25) TextAnalysis.bm25Search(docs, terms, k = poolSize)
      else TextAnalysis.search(docs, terms, k = poolSize)
    val kwScored = kw0.select(lit(0L).as("qk"), col("doc_id"), col("score"))
    val kw = (if (useBm25)
        TopKAgg.topKPerQuery(kwScored
          .withColumn("score", col("score").cast("double")),
          "qk", "doc_id", "score", poolSize)
      else TopKAgg.topKPerQueryDesc(kwScored, "qk", "doc_id", "score",
        poolSize))
      .select(col("neighbor_id").as("doc_id"), col("rank").as("kw_rank"))
    val e = withNorm(emb)
    val q = e.filter(col("vec_id") === queryVecId)
      .select(col("qv").as("qqv"), col("nsq").as("qnsq"))
    val vec = TopKAgg.topKPerQuery(
      e.join(broadcast(q), col("vec_id") =!= lit(queryVecId))
        .select(lit(0L).as("qk"), col("vec_id"),
          cosineQ(dotPre(col("qqv"), col("qv")), col("qnsq"), col("nsq"))
            .as("cosine")),
      "qk", "vec_id", "cosine", poolSize)
      .select(col("neighbor_id").as("doc_id"), col("rank").as("vec_rank"))
    kw.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("kw_rank"), col("vec_rank"),
        (coalesce(lit(1.0) / (col("kw_rank") + lit(rrfK)), lit(0.0)) +
          coalesce(lit(1.0) / (col("vec_rank") + lit(rrfK)), lit(0.0)))
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
  }

  /** Batched hybrid retrieval — the production form of [[hybridSearch]]:
    * `queries` is a DataFrame of (query_id, terms: array<string>,
    * qvec_id) rows, each fused independently (per-query keyword pool +
    * per-query cosine pool, RRF per query). One pass over the corpus
    * serves the WHOLE batch:
    *
    *  - lexical: postings are filtered to the UNION of all queries'
    *    terms before any shuffle (one filtered scan regardless of batch
    *    size), idf is computed once over that filtered relation, and
    *    per-(query, doc) scores fan out through a broadcast of the tiny
    *    (query, term) relation.
    *  - vector: the corpus streams once past the broadcast batch of
    *    query vectors (drawn from `emb` by qvec_id).
    *  - pools and the final fuse use the bounded [[TopKAgg]] aggregators
    *    keyed by query_id — map-side combinable, no per-query window
    *    sort, so no task ever holds more than poolSize rows per query
    *    whatever the corpus size (the single-query form's TakeOrdered
    *    argument, generalized to a batch).
    *
    * Output: (query_id, doc_id, kw_rank, vec_rank, rrf, rank), the q80
    * shape plus the query key and explicit rank. */
  def hybridSearchBatch(docs: DataFrame, emb: DataFrame, queries: DataFrame,
      k: Int = 10, poolSize: Int = 100, rrfK: Int = 60,
      useBm25: Boolean = false): DataFrame = {
    val q = queries.select(col("query_id"), col("terms"), col("qvec_id"))
    val qterms = q.select(col("query_id"), explode(col("terms")).as("token"))
    val n = docs.count()
    val tf = tracked(
      docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .join(broadcast(qterms.select(col("token")).distinct()), Seq("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf_doc")))
    val idf = tf.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
      .select(col("token"), expr(s"$n div df").as("idf_int"))
    // per-(query, doc) lexical score: tf-idf, or the integerized BM25
    // ([[TextAnalysis.bm25Search]]'s exact constants — one rounded
    // division for the length ratio, integer div before the idf
    // multiply) fanned out by query through the broadcast (query, term)
    // relation
    val kwScored =
      if (!useBm25)
        tf.join(broadcast(idf), Seq("token"))
          .join(broadcast(qterms), Seq("token"))
          .groupBy(col("query_id"), col("doc_id"))
          .agg(sum(col("tf_doc") * col("idf_int")).as("score"))
      else {
        val dl = tracked(docs.select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("dl")))
        // empty corpus: sum() is NULL and avgdl undefined — every
        // downstream relation is empty anyway, so any finite avgdl works
        val sumDl = Option(dl.agg(sum(col("dl"))).head.get(0))
          .fold(0L)(_.asInstanceOf[Number].longValue)
        val avgdl = if (n == 0L) 1.0 else sumDl.toDouble / n
        val rl = dl.select(col("doc_id"),
          round(lit(1e6) * col("dl").cast("double") / lit(avgdl))
            .cast("long").as("rl"))
        tf.join(broadcast(idf), Seq("token"))
          .join(rl, Seq("doc_id"))
          .join(broadcast(qterms), Seq("token"))
          .select(col("query_id"), col("doc_id"),
            (col("idf_int") * expr(
              "(tf_doc * 4400000000000) div " +
                "(20000000*tf_doc + 6000000 + 18*rl)")).as("term_score"))
          .groupBy(col("query_id"), col("doc_id"))
          .agg(sum(col("term_score")).as("score"))
      }
    val kw = TopKAgg.topKPerQueryDesc(kwScored, "query_id", "doc_id",
        "score", poolSize)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("kw_rank"))
    val e = tracked(withNorm(emb))
    val qv = q.select(col("query_id"), col("qvec_id"))
      .join(e.select(col("vec_id").as("qvec_id"), col("qv").as("qqv"),
        col("nsq").as("qnsq")), Seq("qvec_id"))
    val vecScored = e.join(broadcast(qv), col("vec_id") =!= col("qvec_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        cosineQ(dotPre(col("qqv"), col("qv")), col("qnsq"), col("nsq"))
          .as("cosine"))
    val vec = TopKAgg.topKPerQuery(vecScored, "query_id", "doc_id",
        "cosine", poolSize)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("vec_rank"))
    val fused = kw.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"), col("kw_rank"), col("vec_rank"),
        (coalesce(lit(1.0) / (col("kw_rank") + lit(rrfK)), lit(0.0)) +
          coalesce(lit(1.0) / (col("vec_rank") + lit(rrfK)), lit(0.0)))
          .as("rrf"))
    // fused is pool-bounded (<= 2 * poolSize rows per query), so the
    // rank joins below are joins between tiny relations
    TopKAgg.topKPerQuery(
        fused.select(col("query_id"), col("doc_id"), col("rrf")),
        "query_id", "doc_id", "rrf", k)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("cosine").as("rrf"), col("rank"))
      .join(kw, Seq("query_id", "doc_id"), "left")
      .join(vec, Seq("query_id", "doc_id"), "left")
      .select(col("query_id"), col("doc_id"), col("kw_rank"),
        col("vec_rank"), col("rrf"), col("rank"))
  }

  /** Offset that makes every per-dimension sum positive before the
    * truncating integer division in the k-means centroid update, so
    * Spark's `div` and DuckDB's `//` (both plain integer division on
    * positive operands) floor identically. Quantized components are
    * ~|1e7|; 2^30 dominates while n*(2^30+1e7) stays far inside int64. */
  private val KmOff = 1L << 30

  /** Deterministic fixed-k init: the k vectors with the smallest
    * md5-hash rank — a pseudo-random sample both engines reproduce. */
  private def initCentroids(e: DataFrame, k: Int): Seq[Array[Long]] =
    e.select(col("qv"))
      .orderBy(md5Long(col("vec_id").cast(org.apache.spark.sql.types.StringType)),
        col("vec_id"))
      .limit(k)
      .collect()
      .map(_.getSeq[Long](0).toArray).toSeq

  private def centDf(e: DataFrame, cents: Seq[Array[Long]]): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    cents.zipWithIndex
      .map { case (a, i) => (i.toLong, a.toSeq) }
      .toDF("cent_id", "cqv")
      .withColumn("cnsq", dotPre(col("cqv"), col("cqv")))
  }

  /** Collect a (cent_id, cqv, ...) centroid frame back to driver arrays,
    * ordered by cent_id — k x dim longs, the same bounded state
    * [[kmeansCentroids]] already holds. Used where only the stored
    * DataFrame form exists (a persisted index read back from parquet). */
  private def centArr(cent: DataFrame): Seq[Array[Long]] = {
    val rows = cent.orderBy(col("cent_id")).select(col("cent_id"), col("cqv"))
      .collect()
    // cells index the array positionally: a gapped id would mis-index
    val ids = rows.map(_.getLong(0)).toSeq
    require(ids == ids.indices.map(_.toLong),
      s"centroid ids must be exactly 0 until ${ids.size}, got ${ids.mkString(",")}")
    rows.map(_.getSeq[Long](1).toArray).toSeq
  }

  /** The k (squared-L2 distance, cent_id) structs of a vector against a
    * LITERAL centroid set — row-local codegen arithmetic, no join, no
    * shuffle. |c|^2 folds at plan time (driver longs, same wrap-free
    * range as the executor math). */
  private[graft] def distStructs(qv: Column, nsq: Column,
      cents: Seq[Array[Long]]): Seq[Column] =
    cents.zipWithIndex.map { case (c, i) =>
      val cn = c.map(x => x * x).sum
      struct((nsq + lit(cn) - lit(2L) * dotPre(qv, typedLit(c.toSeq)))
        .as("dist"), lit(i.toLong).as("cid"))
    }

  /** Lexicographic min over (dist, cid) structs == the old
    * min-aggregation over the broadcast-joined centroid rows. */
  private def leastOf(entries: Seq[Column]): Column =
    if (entries.size == 1) entries.head else least(entries: _*)

  /** Residual against the row's own cell centroid, row-local:
    * rv = qv - cents[cell] via the literal centroid matrix (replaces the
    * broadcast join back onto the centroid frame). */
  private[graft] def residualExpr(qv: Column, cell: Column,
      cents: Seq[Array[Long]]): Column =
    zip_with(qv,
      element_at(typedLit(cents.map(_.toSeq)), cell.cast("int") + 1),
      (a, b) => a - b)

  /** Nearest-centroid cell per vector — ROW-LOCAL argmin against the
    * literal centroid set (the centroids are driver-side training state
    * everywhere this is called). The previous shape — broadcast-join all
    * k centroids onto every vector, then hash-aggregate the FULL vector
    * payload back together by vec_id — paid a corpus-wide k-fanout and a
    * corpus-wide shuffle for an argmin each row can compute alone.
    * Identical integer math, identical (dist, cid) tie-break. */
  private def assignCells(e: DataFrame,
      cents: Seq[Array[Long]]): DataFrame =
    // empty centroid set (empty training corpus): the join form produced
    // zero rows — keep that totality contract
    if (cents.isEmpty)
      e.filter(lit(false)).select(col("vec_id"), col("qv"), col("nsq"),
        lit(0L).as("cell"))
    else e.select(col("vec_id"), col("qv"), col("nsq"),
      leastOf(distStructs(col("qv"), col("nsq"), cents))
        .getField("cid").as("cell"))

  /** Fixed-k Lloyd's iterations over pre-quantized vectors, fully
    * deterministic and integer-exact (so the DuckDB oracle reproduces it
    * bit-for-bit): hash-rank sampled init, assignment by exact integer
    * squared-L2, centroid update by positive-offset integer floor
    * division; a cell that loses all members keeps its previous centroid.
    * The centroid set (k x dim longs) is the ONLY driver-side data — it is
    * collected and re-broadcast per iteration, which is how k-means trains
    * at any corpus size.
    *
    * `trainSampleMod` > 1 trains on the deterministic 1/mod hash-sample of
    * the corpus (vec_id md5 bucket 0) — the 100 TB shape, where Lloyd
    * iterations never scan the full data and only the final cell
    * assignment does. Sampling is hash-based, not rand(), so training is
    * reproducible on any partitioning. */
  def kmeansCentroids(e: DataFrame, k: Int, iters: Int,
      trainSampleMod: Int = 1): Seq[Array[Long]] = {
    val train =
      if (trainSampleMod <= 1) e
      else e.filter(
        pmod(md5Long(col("vec_id").cast(org.apache.spark.sql.types.StringType)),
          lit(trainSampleMod.toLong)) === 0)
    var cents = initCentroids(train, k)
    for (_ <- 0 until iters) {
      val updated = assignCells(train, cents)
        .select(col("cell"), posexplode(col("qv")).as(Seq("d", "v")))
        .groupBy(col("cell"), col("d"))
        .agg(sum(col("v") + lit(KmOff)).as("s"), count(lit(1)).as("n"))
        .select(col("cell"), col("d"), (expr("s div n") - lit(KmOff)).as("c"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cell, rows) =>
          val dims = rows.map(r => r.getInt(1) -> r.getLong(2)).toMap
          cell.toInt -> Array.tabulate(dims.size)(dims(_))
        }
      cents = cents.indices.map(i => updated.getOrElse(i, cents(i)))
    }
    cents
  }

  /** IVF (inverted-file) top-k: a fixed-k k-means coarse quantizer
    * ([[kmeansCentroids]] — k independent of corpus size, so the broadcast
    * centroid set and the assignment work never grow with the data)
    * partitions the corpus into cells by nearest centroid; queries probe
    * their `nprobe` nearest cells and score only vectors assigned there.
    * The 100 TB shape: the centroid set is tiny and broadcast, cell
    * assignment is one scan + one hash aggregation, and search shuffles
    * only on cell id. */
  /** Deterministic per-chunk pseudo-embedding: `dim` md5-derived
    * integers in [-100, 100] per (doc, chunk) over
    * [[graft.ops.Export.chunkDocuments]]'s chunk hashes — the STAND-IN
    * for a real chunk encoder. Multi-vector ops accept ANY
    * (doc_id, chunk_idx, cv) relation; a production encoder swaps in
    * at this seam (the per-partition codec seam of Multimodal.extractFeatures
    * applied to retrieval), and the derivation being md5-based keeps the whole
    * chain oracle-reproducible. */
  def chunkVectors(docs: DataFrame, dim: Int = 16,
      chunkTokens: Int = 64, overlap: Int = 16): DataFrame =
    graft.ops.Export.chunkDocuments(docs, chunkTokens, overlap)
      .select(col("doc_id"), col("chunk_idx"),
        array((1 to dim).map(i =>
          md5Long(concat(col("chunk_hash"), lit(":" + i))) % 201 - 100): _*)
          .as("cv"))

  /** Late-interaction multi-vector retrieval — ColBERT's MaxSim
    * (Khattab & Zaharia 2020): a document is a BAG of chunk vectors
    * and score(q, d) = Σ_{query chunk} max_{doc chunk} ⟨qc, dc⟩, so a
    * document scores high when EVERY part of the query finds some
    * supporting passage — the retrieval quality single-vector cosine
    * can't express. Exact integer end to end.
    *
    * 100 TB shape: this is the RERANK arm — candidate generation
    * belongs to the ANN/hybrid shortlists (compose: shortlist first,
    * MaxSim only shortlist × query chunks). Queries broadcast (bounded
    * set), the chunk dot is the codegen'd LongArrayDot, and the
    * two-level aggregation (max per query-chunk, then sum per pair)
    * runs with map-side partials; doc-chunk rows never shuffle. */
  def maxSimTopK(chunkVecs: DataFrame, nQueries: Long = 5L,
      k: Int = 3): DataFrame = {
    val q = chunkVecs.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"),
        col("chunk_idx").as("q_chunk"), col("cv").as("qcv"))
    val pairMax = chunkVecs
      .join(broadcast(q), col("query_id") =!= col("doc_id"))
      .select(col("query_id"), col("q_chunk"), col("doc_id"),
        dotPre(col("qcv"), col("cv")).as("dot"))
      .groupBy("query_id", "q_chunk", "doc_id")
      .agg(max(col("dot")).as("ms"))
    val scored = pairMax.groupBy("query_id", "doc_id")
      .agg(sum(col("ms")).as("score"))
    TopKAgg.topKPerQueryDesc(scored, "query_id", "doc_id", "score", k)
  }

  /** MaxSim as the RERANK arm behind a single-vector shortlist — the
    * production late-interaction composition ([[maxSimTopK]]'s scaladoc
    * contract made concrete): the document-level embedding generates
    * `shortlist` candidates per query (here the exact cosine scan; at
    * scale any of the ANN family), and exact MaxSim then scores ONLY
    * shortlist × query-chunk pairs — chunk-level work is
    * nQueries × shortlist × chunks, independent of corpus size. Both
    * joins broadcast (shortlist and query chunk set are bounded);
    * doc-chunk rows never shuffle. */
  def maxSimRerank(chunkVecs: DataFrame, emb: DataFrame,
      nQueries: Int = 5, shortlist: Int = 20, k: Int = 3): DataFrame = {
    val sl = bruteTopK(emb, nQueries, shortlist)
      .select(col("query_id"), col("neighbor_id").as("doc_id"))
    val q = chunkVecs.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"),
        col("chunk_idx").as("q_chunk"), col("cv").as("qcv"))
    val pairMax = chunkVecs.join(broadcast(sl), Seq("doc_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("q_chunk"), col("doc_id"),
        dotPre(col("qcv"), col("cv")).as("dot"))
      .groupBy("query_id", "q_chunk", "doc_id")
      .agg(max(col("dot")).as("ms"))
    val scored = pairMax.groupBy("query_id", "doc_id")
      .agg(sum(col("ms")).as("score"))
    TopKAgg.topKPerQueryDesc(scored, "query_id", "doc_id", "score", k)
  }

  /** Coarse k-means cell per vector — the (vec_id, cell) relation
    * behind the IVF partitioner, exposed on its own for
    * semantic-locality consumers ([[graft.ops.Export.semanticPack]]
    * orders pack layout by it). Deterministic: hash-rank init + fixed
    * integer Lloyd iterations, the q87 oracle chain. */
  def cellAssignments(emb: DataFrame, nCells: Int = 8,
      trainIters: Int = 2, trainSampleMod: Int = 1): DataFrame = {
    val e = tracked(withNorm(emb))
    assignCells(e, kmeansCentroids(e, nCells, trainIters, trainSampleMod))
      .select(col("vec_id"), col("cell"))
  }

  def ivfTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 3,
      nprobe: Int = 2, nCells: Int = 8, trainIters: Int = 2,
      trainSampleMod: Int = 1): DataFrame = {
    // cached: training iterations + the final assignment + the probe set
    // all read the quantized corpus (~6 passes otherwise)
    val e = tracked(withNorm(emb))
    val cents = kmeansCentroids(e, nCells, trainIters, trainSampleMod)
    val assigned = assignCells(e, cents)
    // nQueries < 0: EVERY vector queries (the kNN-graph shape)
    val q = (if (nQueries < 0) e else e.filter(col("vec_id") < nQueries))
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"),
        col("nsq").as("qnsq"))
    // nprobe nearest cells per query: ROW-LOCAL sort + slice of the k
    // literal (dist, cid) structs — same ascending (dist, cid) order the
    // old collect_list aggregation produced, zero joins, zero shuffles.
    // Empty centroid set (empty corpus): zero probe rows, the old join
    // form's totality contract.
    val probes =
      if (cents.isEmpty)
        q.filter(lit(false)).select(col("query_id"), col("qqv"),
          col("qnsq"), lit(0L).as("cell"))
      else q.select(col("query_id"), col("qqv"), col("qnsq"),
        explode(slice(sort_array(array(
          distStructs(col("qqv"), col("qnsq"), cents): _*)), 1, nprobe))
          .as("dc"))
        .select(col("query_id"), col("qqv"), col("qnsq"),
          col("dc.cid").as("cell"))
    val scored = probes.join(assigned, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineQ(dotPre(col("qqv"), col("qv")), col("qnsq"), col("nsq"))
          .as("cosine"))
      // a vector can sit in only one cell, but two probed cells both join
      // the same (query, neighbor) never happens; distinct not needed
    TopKAgg.topKPerQuery(scored, "query_id", "neighbor_id", "cosine", k)
  }

  /** Corpus-level SEMANTIC CLUSTERING via a mutual-kNN graph — the
    * standard embedding-clustering recipe at corpus scale: every vector
    * queries the IVF index for its k nearest neighbors ([[ivfTopK]]
    * with nQueries = -1 — candidate generation stays a cell equi-join,
    * never all-pairs), an edge survives only if it is MUTUAL (i in
    * kNN(j) AND j in kNN(i) — the classic noise filter: an isolated
    * point near a cluster lists cluster members, but they don't list it
    * back) and passes the cosine floor `tau`, and the surviving
    * undirected graph is labeled by [[Components.connectedComponents]].
    * Output: (doc_id, component_id) for every vector in at least one
    * mutual edge — the cluster inventory a curation pipeline samples
    * from (cap per cluster, keep one per cluster, ...).
    *
    * Scale shape: the kNN stage is the IVF search (bounded per-query
    * work, k x n edges total); the mutual filter is one self-semi-join
    * of a k*n-row edge list on its natural key; CC is the
    * lineage-truncated pointer-jumping kit (log-diameter rounds). No
    * stage is corpus-quadratic. */
  def semanticClusters(emb: DataFrame, k: Int = 5, tau: Double = 0.3,
      nCells: Int = 8, nprobe: Int = 2, trainIters: Int = 2): DataFrame = {
    val top = ivfTopK(emb, nQueries = -1, k = k, nprobe = nprobe,
      nCells = nCells, trainIters = trainIters)
    val edges = tracked(top.filter(col("cosine") >= tau)
      .select(col("query_id").as("a"), col("neighbor_id").as("b")))
    val mutual = edges
      .join(edges.select(col("b").as("a"), col("a").as("b")),
        Seq("a", "b"), "leftsemi")
      .filter(col("a") < col("b"))
    Components.connectedComponents(
      mutual.select(col("a").as("doc_a"), col("b").as("doc_b")))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the fixed-k
    * k-means quantizer, then mark a vector as a duplicate when a
    * LOWER-id vector in the SAME cell has cosine >= `tau` with it
    * (`dup_of` = the smallest such partner — the deterministic
    * keep-first policy). Output: one row per vector
    * (`vec_id, cell, dup_of, is_dup`); the kept corpus is
    * `filter(!is_dup)`.
    *
    * Scale shape: this is the whole point of SemDeDup — the O(n^2)
    * cosine matrix is confined to within-cluster blocks. `nCells` grows
    * with the corpus (n/1000-ish in the paper), so per-cell cost is
    * bounded while the clustering itself stays one scan + a broadcast of
    * k centroids per Lloyd iteration ([[kmeansCentroids]]; at 100 TB,
    * train on the hash-sample via `trainSampleMod`). The within-cell
    * self-join shuffles both sides on `cell` once; a pathological mega
    * cell is the same hot-bucket problem the minhash path caps — here the
    * cap is `nCells` itself (raise it; re-cluster is linear). All
    * arithmetic is the integer-quantized cosine (TextKit), so the DuckDB
    * oracle reproduces the output bit-for-bit. */
  def semanticDedup(emb: DataFrame, nCells: Int = 8, tau: Double = 0.4,
      trainIters: Int = 2, trainSampleMod: Int = 1): DataFrame = {
    val e = tracked(withNorm(emb))
    val assigned = tracked(assignCells(e,
      kmeansCentroids(e, nCells, trainIters, trainSampleMod)))
    val l = assigned.select(col("cell"), col("vec_id").as("vec_a"),
      col("qv").as("qa"), col("nsq").as("na"))
    val r = assigned.select(col("cell"), col("vec_id").as("vec_b"),
      col("qv").as("qb"), col("nsq").as("nb"))
    val dups = l.join(r, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(cosineQ(dotPre(col("qa"), col("qb")), col("na"), col("nb"))
        >= tau)
      .groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("dup_of"))
    assigned.select(col("vec_id"), col("cell"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup_of"),
        col("dup_of").isNotNull.as("is_dup"))
  }

  /** Product-quantization top-k (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): the `dim`-dimensional
    * vector is split into `m` subspaces of dim/m; each subspace gets a
    * `codesPerSub`-entry codebook and every vector is encoded as `m`
    * small code ids — 8 bytes/vector instead of 256 (the 32x memory
    * compression that lets a 100 TB corpus's candidate set live in
    * executor memory). Search is asymmetric distance computation (ADC):
    * the query computes an exact integer distance table to every
    * codebook entry (m x codesPerSub = 128 longs), and a candidate's
    * approximate squared-L2 is m table lookups summed — no per-pair
    * vector math at all.
    *
    * Codebooks default to the deterministic hash-rank sample (the
    * k-means init policy); `trainIters` > 0 Lloyd-refines each subspace
    * codebook ([[refineCodebook]] — all m subspaces trained in one job
    * per iteration, the production path). Everything is exact integer
    * arithmetic end to end (quantized subvectors, integer squared-L2,
    * integer ADC sums), so ranking ties are stable and the output
    * hash-matches cross-engine. Ties break by (adc, neighbor_id). */
  def pqTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 3,
      m: Int = 8, codesPerSub: Int = 16, dim: Int = 64,
      trainIters: Int = 0, rerank: Int = 0,
      cbSampleMod: Int = 1): DataFrame = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val subDim = dim / m
    val e = tracked(spread(emb).select(col("vec_id"),
      quantVec(col("embedding")).as("qv")))
    // codebook: hash-rank sample, optionally Lloyd-refined per subspace
    // (`trainIters` > 0); `cbSampleMod` > 1 refines on the 1/mod
    // hash-sample — the production training path at corpus scale
    val cb0 = sampleCodebookSeq(e, "qv", m, subDim, codesPerSub)
    val cbSeq =
      if (trainIters <= 0) cb0
      else refineCodebook(e, "qv", cb0, trainIters, m, subDim, cbSampleMod)
    val encoded = encodeCodes(e, "qv", Seq("vec_id"), cbSeq, m, subDim)
    val qtab = adcTables(
      e.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("qv")),
      "qv", Seq("query_id"), cbSeq, m, subDim, codesPerSub)
    // score: m integer lookups per (query, candidate) — the compressed
    // corpus streams past the broadcast tables, never the raw vectors
    val scored = encoded.join(broadcast(qtab),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adcExpr(m, codesPerSub).as("adc"))
    if (rerank <= 0)
      TopKAgg.topKPerQueryAsc(scored, "query_id", "neighbor_id", "adc", k)
    else {
      val eN = e.withColumn("nsq", dotPre(col("qv"), col("qv")))
      rerankTail(
        TopKAgg.topKPerQueryAsc(scored, "query_id", "neighbor_id", "adc",
          rerank),
        eN,
        eN.filter(col("vec_id") < nQueries)
          .select(col("vec_id").as("query_id"), col("qv").as("qqv"),
            col("nsq").as("qnsq")),
        k)
    }
  }

  /** Exact-cosine re-rank of an ADC shortlist — the standard
    * PQ-then-refine composition (FAISS's IndexRefineFlat; Jégou et al.
    * 2011 §V): ADC finds a `rerank`-sized candidate shortlist from the
    * compressed codes, then ONLY those candidates' raw vectors are
    * fetched and scored exactly. Recall approaches the ADC shortlist's
    * ceiling while per-query exact work stays `rerank` vectors — at
    * 100 TB the corpus is still only ever touched through the compressed
    * index; the raw-vector fetch is a broadcast-pair equi-join bounded
    * by nQueries x rerank rows. Output matches [[bruteTopK]]'s shape
    * (query_id, neighbor_id, cosine, rank). */
  private def rerankTail(shortlist: DataFrame, e: DataFrame, q: DataFrame,
      k: Int): DataFrame = {
    val rescored = e.select(col("vec_id"), col("qv"), col("nsq"))
      .join(broadcast(shortlist
        .select(col("query_id"), col("neighbor_id").as("vec_id"))),
        Seq("vec_id"))
      .join(broadcast(q.select(col("query_id"), col("qqv"), col("qnsq"))),
        Seq("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineQ(dotPre(col("qqv"), col("qv")), col("qnsq"), col("nsq"))
          .as("cosine"))
    TopKAgg.topKPerQuery(rescored, "query_id", "neighbor_id", "cosine", k)
  }

  /** Deterministic per-subspace codebook sample: the `codesPerSub`
    * vectors of smallest md5-hash rank (the k-means init policy),
    * sliced into (sub, code, cbv) tuples — m x codesPerSub x subDim
    * longs on the driver. */
  private def sampleCodebookSeq(df: DataFrame, vecCol: String, m: Int,
      subDim: Int, codesPerSub: Int): Seq[(Int, Long, Seq[Long])] = {
    val sample = df
      .orderBy(md5Long(col("vec_id").cast(org.apache.spark.sql.types.StringType)),
        col("vec_id"))
      .limit(codesPerSub)
      .select(vecCol).collect().map(_.getSeq[Long](0).toArray)
    for {
      s <- 0 until m; c <- sample.indices
    } yield (s, c.toLong, sample(c).slice(s * subDim, (s + 1) * subDim).toSeq)
  }

  private def codebookDf(spark: org.apache.spark.sql.SparkSession,
      cb: Seq[(Int, Long, Seq[Long])]): DataFrame = {
    import spark.implicits._
    cb.toDF("sub", "code", "cbv")
  }

  /** Per-subspace Lloyd refinement of a PQ codebook — k-means in each of
    * the m subspaces run as ONE Spark job per iteration (the subspace id
    * rides in the grouping key): assign every (vector, subspace) to its
    * nearest code, recompute each (sub, code) centroid by the same
    * positive-offset integer floor division [[kmeansCentroids]] uses, and
    * keep the previous entry for codes that lost all members. The
    * codebook (m x codesPerSub x subDim longs) is the only driver-side
    * state, collected and re-broadcast per iteration, and everything is
    * exact integer arithmetic so the DuckDB oracle reproduces the
    * trained codebook bit-for-bit.
    *
    * `sampleMod` > 1 Lloyd-trains on the deterministic 1/mod hash-sample
    * of the vectors (same vec_id md5 bucket [[kmeansCentroids]] uses for
    * the coarse quantizer) — the 100 TB shape: a few-KB codebook never
    * needs `iters` full-corpus scans, FAISS practice trains PQ on ~100k
    * vectors. Only the final encode pass touches the full data. Sampling
    * is hash-based, not rand(), so training is reproducible on any
    * partitioning. */
  private def refineCodebook(vecs: DataFrame, vecCol: String,
      init: Seq[(Int, Long, Seq[Long])], iters: Int, m: Int,
      subDim: Int, sampleMod: Int = 1): Seq[(Int, Long, Seq[Long])] = {
    // empty codebook (empty training corpus): nothing to train — the
    // same totality contract as encodeCodes/adcTables
    if (init.isEmpty) return init
    val train =
      if (sampleMod <= 1) vecs
      else vecs.filter(
        pmod(md5Long(col("vec_id").cast(org.apache.spark.sql.types.StringType)),
          lit(sampleMod.toLong)) === 0)
    var cb = init
    for (_ <- 0 until iters) {
      // Row-local argmin via the native PqOps.encode kernel (r16). The
      // r15 attempt at a row-local rewrite — the m x codesPerSub
      // literal-distance EXPRESSION TREE in one projection — measured 3x
      // slower (codegen blowup) and was reverted; the native kernel has
      // no such tree, so the per-iteration broadcast-join x-codesPerSub
      // fanout and the corpus x m argmin aggregation both disappear:
      // each row computes its own m codes, explodes once to
      // (sub, code, d, v), and only the (sub, code, d) mean-update
      // aggregation shuffles. Identical integer math and (dist, code)
      // tie-breaks (PqOpsSpec pins kernel == expression form; sqDist ==
      // sn + |v|^2 - 2 dot over exact longs).
      val st = graft.functions.PqOps.buildState(cb, m, subDim,
        cb.map(_._2).max.toInt + 1)
      val updated = train
        .select(graft.functions.PqOps.encodeColumn(col(vecCol), st)
            .as("codes"),
          posexplode(col(vecCol)).as(Seq("pos", "v")))
        .select(expr(s"pos div $subDim").cast("int").as("sub"),
          element_at(col("codes"), expr(s"pos div $subDim").cast("int") + 1)
            .as("code"),
          pmod(col("pos"), lit(subDim)).cast("int").as("d"), col("v"))
        .groupBy(col("sub"), col("code"), col("d"))
        .agg(sum(col("v") + lit(KmOff)).as("s"), count(lit(1)).as("n"))
        .select(col("sub"), col("code"), col("d"),
          (expr("s div n") - lit(KmOff)).as("c"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getLong(1)))
        .map { case (key, rows) =>
          val dims = rows.map(r => r.getInt(2) -> r.getLong(3)).toMap
          key -> (0 until subDim).map(dims(_))
        }
      cb = cb.map { case (s, c, v) => (s, c, updated.getOrElse((s, c), v)) }
    }
    cb
  }

  /** Collect a stored (sub, code, cbv) codebook frame back to the
    * driver, ordered — m x codesPerSub x subDim longs, the same bounded
    * state the builders already hold as `cbSeq`. */
  private def codebookArr(codebook: DataFrame, m: Int,
      codesPerSub: Int): Seq[(Int, Long, Seq[Long])] = {
    val cb = codebook.select(col("sub"), col("code"), col("cbv"))
      .orderBy(col("sub"), col("code")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2))).toSeq
    // dense m x n grid, n <= codesPerSub (n < codesPerSub only when the
    // training sample had fewer vectors than codes): kernels index slots
    // by (sub, code) position
    val n = cb.size / m
    require(n <= codesPerSub && cb.map(e => (e._1, e._2)) ==
        (for (s <- 0 until m; c <- 0 until n) yield (s, c.toLong)),
      s"codebook must be a dense $m x n grid (n <= $codesPerSub) of (sub, code)")
    cb
  }

  /** PQ encode: argmin codebook entry per (keep-key, subspace), packed
    * to one `codes` array per keep-key — ROW-LOCAL over the literal
    * codebook (the codebook is driver-side training state everywhere
    * this is called). The previous shape exploded m sub-rows per
    * vector, broadcast-join-fanned them x codesPerSub, and paid TWO
    * corpus-wide hash aggregations to fold the argmins back into an
    * array each row can compute alone. Identical integer math,
    * identical (dist, code) tie-break. */
  private def encodeCodes(df: DataFrame, vecCol: String, keep: Seq[String],
      cb: Seq[(Int, Long, Seq[Long])], m: Int, subDim: Int): DataFrame = {
    // empty codebook (empty training corpus): the join form produced
    // zero rows — keep that totality contract
    if (cb.isEmpty)
      return df.filter(lit(false)).select(
        keep.map(col) :+ lit(null).cast("array<bigint>").as("codes"): _*)
    // native per-row kernel (graft.functions.PqOps): identical integer
    // math and (dist, code) tie-breaks to the previous 128-entry
    // struct/least expression tree, in one tight loop — the tree form
    // whole-stage-compiled into a huge janino method and re-sliced the
    // subvector per entry (see PqOps scaladoc)
    val st = graft.functions.PqOps.buildState(cb, m, subDim,
      cb.map(_._2).max.toInt + 1)
    df.select(keep.map(col) :+
      graft.functions.PqOps.encodeColumn(col(vecCol), st).as("codes"): _*)
  }

  /** Per-keep-key ADC table: exact integer distance from the keep-key's
    * vector to ALL m x codesPerSub codebook entries, packed as one
    * lookup array indexed sub*codesPerSub+code — row-local over the
    * literal codebook, like [[encodeCodes]]. */
  private[graft] def adcTables(df: DataFrame, vecCol: String, keep: Seq[String],
      cb: Seq[(Int, Long, Seq[Long])], m: Int, subDim: Int,
      codesPerSub: Int): DataFrame = {
    if (cb.isEmpty)
      return df.filter(lit(false)).select(
        keep.map(col) :+ lit(null).cast("array<bigint>").as("tab"): _*)
    // native per-row kernel — a slot absent from the codebook (an
    // under-filled sample on a tiny corpus) reads as NULL, exactly the
    // previous map-lookup miss; distances are the same exact longs
    // (PqOps scaladoc has the equivalence argument)
    val st = graft.functions.PqOps.buildState(cb, m, subDim, codesPerSub)
    df.select(keep.map(col) :+
      graft.functions.PqOps.adcTableColumn(col(vecCol), st).as("tab"): _*)
  }

  /** ADC score: sum of m integer table lookups (`tab`, `codes` in scope). */
  private[graft] def adcExpr(m: Int, codesPerSub: Int): Column =
    (0 until m).map(s =>
      element_at(col("tab"),
        (lit(s * codesPerSub) + element_at(col("codes"), s + 1)).cast("int") + 1))
      .reduce(_ + _)

  /** A built IVF-PQ index — the build-once / search-many lifecycle a
    * production deployment runs: `cent` (k x dim centroid longs) and
    * `codebook` (m x codesPerSub residual codes) are tiny broadcastable
    * state; `encoded` is the compressed corpus, 8 code bytes + a cell id
    * per vector — persist it (or write it to the lake) and amortize the
    * build across every query batch; `e` is the quantized corpus the
    * query side draws vectors from. */
  final case class IvfPqIndex(e: DataFrame, cent: DataFrame,
      codebook: DataFrame, encoded: DataFrame, m: Int, codesPerSub: Int,
      subDim: Int) {
    /** Vector dimensionality the index was built for — external query
      * batches must match it exactly ([[searchIvfPqWith]] enforces). */
    def dim: Int = m * subDim

    /** Driver-side copies of the frozen training state (k x dim + m x
      * codesPerSub x subDim longs), memoized so a maintenance loop that
      * appends/searches every micro-batch collects them ONCE, not per
      * batch. Owners that rebuild the index from storage each batch
      * (streamFeedIvfPqMaintain) inject the arrays across instances. */
    @volatile private[graft] var centsCache: Seq[Array[Long]] = null
    @volatile private[graft] var cbCache: Seq[(Int, Long, Seq[Long])] = null
    private[graft] def centsArr: Seq[Array[Long]] = {
      if (centsCache == null) centsCache = centArr(cent)
      centsCache
    }
    private[graft] def cbArr: Seq[(Int, Long, Seq[Long])] = {
      if (cbCache == null) cbCache = codebookArr(codebook, m, codesPerSub)
      cbCache
    }
    /** copy() that carries the memoized training-state arrays along. */
    private[graft] def withRows(e2: DataFrame, enc2: DataFrame): IvfPqIndex = {
      val c = copy(e = e2, encoded = enc2)
      c.centsCache = centsCache
      c.cbCache = cbCache
      c
    }
  }

  /** Build the IVF-PQ index: train the coarse quantizer (on the
    * hash-sample when `trainSampleMod` > 1), assign cells, compute
    * residuals, sample the residual codebook (Lloyd-refined per
    * subspace when `cbTrainIters` > 0 — [[refineCodebook]] over the
    * residuals, the trained-product-quantizer production form), and
    * PQ-encode the corpus. Everything heavy here happens ONCE per
    * corpus version. */
  def buildIvfPq(emb: DataFrame, nCells: Int = 8, trainIters: Int = 2,
      trainSampleMod: Int = 1, m: Int = 8, codesPerSub: Int = 16,
      dim: Int = 64, cbTrainIters: Int = 0,
      cbSampleMod: Int = 1): IvfPqIndex = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val subDim = dim / m
    val e = tracked(withNorm(emb))
    val cents = kmeansCentroids(e, nCells, trainIters, trainSampleMod)
    val cent = centDf(e, cents)
    // residual = vector - its cell centroid, exact integer subtraction —
    // row-local against the literal centroid matrix (no join back)
    val res = tracked(
      assignCells(e, cents)
        .select(col("vec_id"), col("cell"),
          residualExpr(col("qv"), col("cell"), cents).as("rv")))
    // residual codebook + per-(vector, cell) codes — the shared PQ kit
    val cb0 = sampleCodebookSeq(res, "rv", m, subDim, codesPerSub)
    val cbSeq =
      if (cbTrainIters <= 0) cb0
      else refineCodebook(res, "rv", cb0, cbTrainIters, m, subDim, cbSampleMod)
    val codebook = codebookDf(e.sparkSession, cbSeq)
    val encoded = tracked(encodeCodes(res, "rv", Seq("vec_id", "cell"),
      cbSeq, m, subDim))
    val ix = IvfPqIndex(e, cent, codebook, encoded, m, codesPerSub, subDim)
    // the training state is already in hand — seed the memo so the first
    // search/append never re-collects it
    ix.centsCache = cents
    ix.cbCache = cbSeq
    ix
  }

  /** IVF-PQ top-k — the production composition (FAISS's IndexIVFPQ,
    * Jégou et al. 2011 §IV): the [[kmeansCentroids]] coarse quantizer
    * partitions the corpus into cells, every vector is PQ-encoded as the
    * RESIDUAL against its cell centroid (residuals are tighter than raw
    * vectors, so the same code budget quantizes finer), and a query
    * scores only the `nprobe` nearest cells via per-(query, cell) ADC
    * tables over the residual codebook. One-shot convenience for
    * [[buildIvfPq]] + [[searchIvfPq]].
    *
    * The 100 TB shape, end to end: Lloyd training scans a hash-sample,
    * the centroid set and codebooks are tiny driver/broadcast state,
    * the stored index is 8 bytes of codes + one cell id per vector
    * (32x memory compression), candidate generation is a cell equi-join
    * (never a corpus scan), and per-candidate scoring is m integer
    * table lookups. Codebooks are the deterministic hash-rank sample of
    * residuals (zero Lloyd refinement — same policy and rationale as
    * [[pqTopK]]); all arithmetic is exact integers, oracle-reproducible. */
  def ivfPqTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 3,
      nprobe: Int = 2, nCells: Int = 8, trainIters: Int = 2,
      trainSampleMod: Int = 1, m: Int = 8, codesPerSub: Int = 16,
      dim: Int = 64, rerank: Int = 0, cbTrainIters: Int = 0,
      cbSampleMod: Int = 1): DataFrame =
    searchIvfPq(buildIvfPq(emb, nCells, trainIters, trainSampleMod,
      m, codesPerSub, dim, cbTrainIters, cbSampleMod),
      nQueries, k, nprobe, rerank)

  /** Search a prebuilt [[IvfPqIndex]]: probes, per-(query, cell) ADC
    * tables, and the compressed-candidate scoring — no training, no
    * encoding, no corpus scan beyond the probed cells. `rerank` > 0
    * exact-rescored the ADC shortlist ([[rerankTail]]). */
  def searchIvfPq(ix: IvfPqIndex, nQueries: Int = 10, k: Int = 3,
      nprobe: Int = 2, rerank: Int = 0): DataFrame =
    searchIvfPqTail(ix,
      ix.e.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("qv").as("qqv"),
          col("nsq").as("qnsq")),
      k, nprobe, excludeSelf = true, rerank)

  /** Search a prebuilt index with EXTERNAL query vectors — the
    * production case: queries are new data, not corpus members.
    * `queries` is any (vec_id, embedding) frame; it is quantized with
    * the corpus's scheme and scored against the compressed index, so a
    * fresh batch's ANN admission costs probing + ADC only — the
    * incremental shape (index once, every later batch proportional to
    * the batch). Query ids live in their OWN namespace: a query whose
    * vec_id happens to equal a corpus id is still scored against that
    * corpus vector (no self-exclusion — that filter only makes sense
    * when queries ARE corpus members, [[searchIvfPq]]'s case). */
  def searchIvfPqWith(ix: IvfPqIndex, queries: DataFrame, k: Int = 3,
      nprobe: Int = 2, rerank: Int = 0): DataFrame =
    searchIvfPqTail(ix,
      spread(queries).select(col("vec_id").as("query_id"),
          quantVec(assertDim(col("embedding"), ix.dim)).as("qqv"))
        .withColumn("qnsq", dotPre(col("qqv"), col("qqv"))),
      k, nprobe, excludeSelf = false, rerank)

  /** Incremental IVF-PQ index maintenance — add a batch of NEW vectors
    * to a prebuilt index WITHOUT retraining: the production ingest path.
    * The coarse centroids and the residual codebook are frozen training
    * state (built once, on the corpus version the index was trained
    * over); a fresh batch is quantized with the corpus's scheme,
    * assigned to its nearest EXISTING cell, residual-encoded against the
    * EXISTING codebook, and unioned into `encoded`. Work is proportional
    * to the batch — one broadcast of the tiny centroid/codebook state,
    * zero corpus scans, zero Lloyd iterations — so at 100 TB an hourly
    * ingest batch costs minutes, not an index rebuild. This is FAISS's
    * `IndexIVFPQ.add` semantics: accepted practice is that added vectors
    * ride the original training state until drift warrants a scheduled
    * re-train (a new corpus version, not an ingest-path concern).
    *
    * `batch` is any (vec_id, embedding) frame; dimensionality is
    * enforced ([[assertDim]]) and ids must be NEW (caller contract — the
    * id-disjointness check would cost a corpus-wide anti-join per batch,
    * exactly what this path exists to avoid; lake writers already key by
    * id upstream). Appending is split-invariant: adding b1 then b2
    * yields the same index as adding b1 UNION b2 (each vector's cell and
    * codes depend only on itself and the frozen state — pinned in
    * OpsSpec), so ingest batching is a throughput knob, not a semantics
    * knob. */
  def appendIvfPq(ix: IvfPqIndex, batch: DataFrame): IvfPqIndex = {
    val b = tracked(withNorm(spread(batch).select(col("vec_id"),
      assertDim(col("embedding"), ix.dim).as("embedding"))))
    // the frozen training state collects back to driver arrays (KBs,
    // memoized on the index instance) so assignment, residual, and
    // encode are all row-local over the batch
    val cents = ix.centsArr
    val res = assignCells(b, cents)
      .select(col("vec_id"), col("cell"),
        residualExpr(col("qv"), col("cell"), cents).as("rv"))
    val encNew = encodeCodes(res, "rv", Seq("vec_id", "cell"),
      ix.cbArr, ix.m, ix.subDim)
    ix.withRows(ix.e.unionByName(b), ix.encoded.unionByName(encNew))
  }

  /** CDC-driven IVF-PQ index maintenance — apply one change-feed commit
    * window (deletes + inserts) to a prebuilt index: the ANN twin of
    * [[graft.ops.Dedup.applyFeedToBandIndex]], and the simpler half of
    * the "maintenance beats recompute" contract, because IVF-PQ stores
    * exactly ONE row per vector (its cell + codes) with no cross-vector
    * state at all — a delete is a plain row drop, never a bucket
    * rebuild. Deletes anti-join `e`/`encoded` against the broadcast
    * feed-delete id set; inserts ride [[appendIvfPq]] (frozen centroids
    * + codebook, batch-proportional encode). Deletes apply before
    * inserts, the CDC commit order.
    *
    * Exactness: each vector's (cell, codes) depends only on itself and
    * the frozen training state, so the maintained index is
    * BIT-IDENTICAL to re-encoding the head row set from scratch under
    * the same training — pinned in OpsSpec and oracle-gated (q214)
    * against a full DuckDB replay. The 100 TB shape: per commit window,
    * work = one broadcast of the delete ids (KBs) + encode of the
    * insert batch; the corpus's stored codes are never rewritten, only
    * filtered at read. Training drift across many windows is a
    * scheduled re-train (a new corpus version), exactly as in
    * [[appendIvfPq]]. */
  def applyFeedToIvfPq(ix: IvfPqIndex, inserts: DataFrame,
      deleteIds: DataFrame): IvfPqIndex = {
    val del = broadcast(deleteIds.select(col("vec_id").as("del_id")).distinct())
    def drop(df: DataFrame) =
      df.join(del, col("vec_id") === col("del_id"), "left_anti")
    appendIvfPq(ix.withRows(drop(ix.e), drop(ix.encoded)), inserts)
  }

  /** Pass `emb` through iff its length is exactly `dim`, else fail the
    * task loudly. Without this, a query batch whose vectors don't match
    * the index dimensionality would slice short subvectors in the ADC
    * tables and return silently wrong neighbors. */
  private def assertDim(emb: Column, dim: Int): Column =
    when(size(emb) === dim, emb).otherwise(raise_error(concat(
      lit(s"query embedding dimension must equal index dim $dim, got "),
      size(emb).cast("string"))))

  private def searchIvfPqTail(ix: IvfPqIndex, q: DataFrame, k: Int,
      nprobe: Int, excludeSelf: Boolean, rerank: Int = 0): DataFrame = {
    val IvfPqIndex(_, _, _, encoded, m, codesPerSub, subDim) = ix
    // the tiny training state back to driver arrays (memoized on the
    // index); probes, residuals and ADC tables are then row-local over
    // the bounded query set
    val cents = ix.centsArr
    // probes: nprobe nearest cells per query (the ivfTopK shape);
    // empty centroid set -> zero probe rows (totality on empty corpora)
    val probes =
      if (cents.isEmpty)
        q.filter(lit(false)).select(col("query_id"), col("qqv"),
          lit(0L).as("cell"))
      else q.select(col("query_id"), col("qqv"),
        explode(slice(sort_array(array(
          distStructs(col("qqv"), col("qnsq"), cents): _*)), 1, nprobe))
          .as("dc"))
        .select(col("query_id"), col("qqv"), col("dc.cid").as("cell"))
    // per-(query, probed cell) residual + ADC table over the codebook
    val qres = probes
      .select(col("query_id"), col("cell"),
        residualExpr(col("qqv"), col("cell"), cents).as("qrv"))
    val qtab = adcTables(qres, "qrv", Seq("query_id", "cell"),
      ix.cbArr, m, subDim, codesPerSub)
    val scored0 = encoded.join(broadcast(qtab), Seq("cell"))
    val scored =
      (if (excludeSelf) scored0.filter(col("vec_id") =!= col("query_id"))
       else scored0)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          adcExpr(m, codesPerSub).as("adc"))
    if (rerank <= 0)
      TopKAgg.topKPerQueryAsc(scored, "query_id", "neighbor_id", "adc", k)
    else rerankTail(
      TopKAgg.topKPerQueryAsc(scored, "query_id", "neighbor_id", "adc",
        rerank),
      ix.e, q, k)
  }

  /** Retrieval-QUALITY measurement for the ANN family: per-query overlap
    * between an approximate top-k (`approx`) and the exact brute-force
    * top-k (`exact`) over the same corpus — recall@k, the property a user
    * actually cares about (hash-determinism proves the approximate answer
    * is REPEATABLE; this measures whether it FINDS the true neighbors).
    * Both inputs are (query_id, neighbor_id, ...) frames, e.g. any of
    * [[lshTopK]]/[[ivfTopK]]/[[pqTopK]]/[[ivfPqTopK]] against
    * [[bruteTopK]] at the same k. Output: one row per query with the
    * exact-neighbor count, the hit count, and integer-permille recall
    * (exact integer division — deterministic cross-engine).
    *
    * Scale shape: two row-count-bounded frames (nQueries x k rows each)
    * joined on their natural key — negligible next to the searches
    * themselves, so measuring recall on a sampled query set is free even
    * at 100 TB corpus size. */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val a = approx.select(col("query_id"), col("neighbor_id"))
      .withColumn("hit", lit(1L))
    exact.select(col("query_id"), col("neighbor_id"))
      .join(a, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        expr("n_hit * 1000 div n_exact").as("recall_permille"))
  }

  /** Corpus-level recall@k: total hits / total exact neighbors, in [0,1].
    * Driver-side convenience for asserting recall floors in specs and
    * ScaleSmoke; the distributed form is [[recallAtK]]. */
  def meanRecall(approx: DataFrame, exact: DataFrame): Double = {
    val t = recallAtK(approx, exact)
      .agg(sum(col("n_hit")), sum(col("n_exact"))).head()
    if (t.isNullAt(1) || t.getLong(1) == 0L) 0.0
    else t.getLong(0).toDouble / t.getLong(1).toDouble
  }

  /** Sign-bit bucket id over the first `bits` dimensions. The sign of a
    * float is exact, so bucketing is engine-independent. */
  def signBucket(emb: org.apache.spark.sql.Column, bits: Int): org.apache.spark.sql.Column =
    (0 until bits).map(d =>
      when(element_at(emb, d + 1) >= 0, lit(1L << d)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Sign-bit bucket over dimensions [t*bits, t*bits+bits) — hash table
    * `t` of a multi-table LSH ([[lshTopK]]'s `tables` parameter). */
  private def signBucketAt(emb: Column, bits: Int, t: Column): Column =
    (0 until bits).map(d =>
      when(element_at(emb, (t * bits + d + 1).cast("int")) >= 0,
        lit(1L << d)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** LSH-bucketed top-k: same contract as bruteTopK but candidates are
    * restricted to the query's bucket(s). Recall < 1 by construction; the
    * bucket join replaces the full scan.
    *
    * `tables` > 1 is the standard recall lever (multi-table LSH, e.g.
    * Andoni & Indyk 2008): table t buckets on sign bits of dimensions
    * [t*bits, (t+1)*bits), and a candidate need only collide in ONE
    * table. Collision probability for a true neighbor rises from p to
    * 1-(1-p)^L while the per-table bucket join stays exactly as cheap —
    * corpus cost is L bucket rows per vector (linear in L, never
    * all-pairs), so at 100 TB the recall/cost trade is tuned by L alone.
    * The candidate pair set is deduplicated BEFORE scoring: a pair
    * colliding in several tables is scored once.
    *
    * Candidate-set size: ~nQueries x n/2^bits rows per table before the
    * cross-table dedup — it GROWS WITH THE CORPUS, so it is never
    * broadcast: the dedup is a shuffle aggregation and the raw-vector
    * fetch is a shuffle equi-join on vec_id. Only the bounded relations
    * (the query buckets, nQueries x L rows, and the query vectors) carry
    * broadcast hints. */
  def lshTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 3,
      bits: Int = 6, tables: Int = 1): DataFrame = {
    require(tables >= 1 && tables * bits <= 64,
      s"tables=$tables x bits=$bits must fit the 64 dimensions")
    val e = tracked(withNorm(emb))
    val banded = e.select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(tables - 1))).as("t"))
      .select(col("vec_id"), col("t"),
        signBucketAt(col("embedding"), bits, col("t")).as("bucket"))
    val qb = banded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("t"), col("bucket"))
    // candidates first, dedup across tables, THEN score once per pair.
    // cand grows with the corpus (bucket occupancy ~ n/2^bits rows per
    // query per table) — deduped via aggregation and joined by shuffle,
    // never broadcast
    val cand = banded.join(broadcast(qb), Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id")).distinct()
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"),
        col("nsq").as("qnsq"))
    val scored = e.join(cand, Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineQ(dotPre(col("qqv"), col("qv")), col("qnsq"), col("nsq"))
          .as("cosine"))
    TopKAgg.topKPerQuery(scored, "query_id", "neighbor_id", "cosine", k)
  }
}
