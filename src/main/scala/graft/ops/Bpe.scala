package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import TextKit._

/** Trained byte-pair-encoding tokenizer (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units") — the real
  * tokenizer the pipeline's token budgeting/mixing/packing should count
  * with, replacing the "BPE-ish" regex proxy in
  * [[TextAnalysis.tokenCounts]].
  *
  * The classic scalable shape, translated to Spark:
  *
  *  1. ONE corpus-scale pass aggregates documents to a WORD-FREQUENCY
  *     table (explode + two-level count — [[TextAnalysis.vocabulary]]'s
  *     map-side-combinable shape). Everything after runs over that
  *     vocab-sized relation, never the corpus — exactly how reference
  *     BPE trains from a word-count dict.
  *  2. Each merge step is one tiny aggregation over the word table:
  *     count adjacent symbol pairs weighted by word frequency, take the
  *     argmax (ties broken lexicographically — deterministic), apply the
  *     merge. Driver state is the merge list only (nMerges rows).
  *  3. Encoding is a LITERALIZED expression chain: the learned merges
  *     fold into nested `replace` calls, so encoding new text is pure
  *     codegen'd string arithmetic at scan speed — no UDF, no join
  *     against training state required (the word-table join form is used
  *     for per-doc counting because it dedups the replace work per
  *     distinct word).
  *
  * Cross-engine determinism: a word's symbol string is its characters
  * joined by the 0x1F unit separator, wrapped in leading/trailing
  * separators; applying merge (l, r) is the plain string replacement
  * SEP+l+SEP+r+SEP -> SEP+lr+SEP, swept [[Sweeps]] times. Plain
  * `replace` scans left-to-right non-overlapping and resumes after the
  * replacement in both engines (Java UTF8String.replace and DuckDB
  * replace), and consecutive occurrences share a separator, so one sweep
  * merges alternating occurrences of a run; [[Sweeps]] = 6 repeated
  * sweeps reach a stable state (no occurrence of the rule pattern left)
  * for any realistic word length. The sweep semantics — NOT classic
  * first-occurrence-iterated BPE — is the tokenizer's defined behavior:
  * a run like b^16 under rule (b,b) stabilizes as alternating bb/b
  * symbols (spec-pinned), and both engines compute the identical string
  * in every case, so the oracle comparison never degrades.
  *
  * 100 TB shape: the corpus is touched exactly twice (word counts;
  * final per-doc encode join) regardless of nMerges; `trainSampleMod`
  * hash-samples the TRAINING corpus (the [[Similarity.kmeansCentroids]]
  * policy — frequency counts on a 1/mod sample rank pairs nearly
  * identically) while encoding still covers everything, with a
  * per-character fallback for words outside the sampled vocabulary.
  */
object Bpe {

  /** 0x1F unit separator — never appears in text tokens. */
  private val Sep = "\u001f"

  /** Replace sweeps per merge rule (see class doc). */
  val Sweeps = 6

  /** A learned merge: rank order, left/right symbol, weighted count. */
  final case class Merge(rank: Int, lhs: String, rhs: String, pairN: Long)

  /** Pass count of the last [[train]] on this JVM — scaling-evidence
    * metric (jobs ∝ passes under batched selection; the sequential
    * schedule is passes == merges). */
  @volatile var lastTrainPasses: Int = 0

  private def wordsOf(docs: DataFrame): DataFrame =
    docs.select(explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")

  /** Initial symbol string: chars joined + wrapped by SEP. */
  private def symInit(word: Column): Column =
    concat(lit(Sep), regexp_replace(word, "(.)", "$1" + Sep))

  /** SEP-delimited symbol string -> symbol array (empties dropped). */
  private def symbols(sym: Column): Column =
    filter(split(sym, Sep), x => x =!= lit(""))

  /** One merge rule applied [[Sweeps]] times (greedy left-to-right). */
  private def applyMerge(sym: Column, l: String, r: String): Column = {
    val pat = lit(Sep + l + Sep + r + Sep)
    val rep = lit(Sep + l + r + Sep)
    (1 to Sweeps).foldLeft(sym)((c, _) => replace(c, pat, rep))
  }

  /** Fold a whole learned merge table into one expression — the
    * scan-speed encoder for arbitrary new words. */
  def encodeExpr(word: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(symInit(word))((c, m) => applyMerge(c, m.lhs, m.rhs))

  /** Whole-document token count as ONE row-local column expression —
    * every word through the literalized merge chain, symbol counts
    * summed. No join, no aggregation, no state: slots into any scan
    * (the `tokCol` door in the token budget/rate mixers) and is legal
    * on a STREAM before any stateful operator ([[graft.streaming
    * .StreamingOps.streamBpeCounts]]). Pays the replace chain per word
    * OCCURRENCE; the dictionary-join form ([[tokenCounts]]) pays it per
    * DISTINCT word — pick by corpus shape. */
  def tokenCountExpr(text: Column, merges: Seq[Merge]): Column =
    aggregate(
      transform(filter(split(text, " "), w => w =!= lit("")),
        w => size(symbols(encodeExpr(w, merges))).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** [[tokenCountExpr]] as a raw Catalyst tree — the SQL-function-registry
    * twin (`bpe_token_count` in [[graft.plans.GraftExtensions]]). A
    * Column tree cannot cross the registry boundary: Spark 4 wraps it in
    * a ColumnNodeExpression leaf the analyzer treats as opaque, so the
    * registered builder composes the same shape from catalyst nodes
    * (lambda variables resolve through ResolveLambdaVariables exactly as
    * parsed SQL lambdas do). Semantics are pinned equal to the Column
    * form in ExtensionsSpec. */
  def tokenCountCatalyst(text: org.apache.spark.sql.catalyst.expressions.Expression,
      merges: Seq[Merge]): org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.LongType
    def L(s: String) = Literal(s)
    def lam(name: String)(body: Expression => Expression): LambdaFunction = {
      val v = UnresolvedNamedLambdaVariable(Seq(name))
      LambdaFunction(body(v), Seq(v))
    }
    def symInit(w: Expression): Expression =
      Concat(Seq(L(Sep), RegExpReplace(w, L("(.)"), L("$1" + Sep))))
    def applyOne(sym: Expression, l: String, r: String): Expression = {
      val pat = L(Sep + l + Sep + r + Sep)
      val rep = L(Sep + l + r + Sep)
      (1 to Sweeps).foldLeft(sym)((c, _) => StringReplace(c, pat, rep))
    }
    def encode(w: Expression): Expression =
      merges.foldLeft(symInit(w))((c, m) => applyOne(c, m.lhs, m.rhs))
    def nonEmpty(arr: Expression, v: String): Expression =
      ArrayFilter(arr, lam(v)(x => Not(EqualTo(x, L("")))))
    val words = nonEmpty(StringSplit(text, L(" "), Literal(-1)), "w")
    val counts = ArrayTransform(words, lam("t")(w =>
      Cast(Size(nonEmpty(StringSplit(encode(w), L(Sep), Literal(-1)), "s")),
        LongType)))
    val acc = UnresolvedNamedLambdaVariable(Seq("acc"))
    val x = UnresolvedNamedLambdaVariable(Seq("x"))
    ArrayAggregate(counts, Literal(0L),
      LambdaFunction(Add(acc, x), Seq(acc, x)),
      lam("fin")(identity))
  }

  /** Adjacent symbol pairs of the current word-table state, weighted by
    * word frequency. Guarded for 1-symbol words (Spark's sequence(1,0)
    * is DESCENDING, not empty). */
  private def pairCounts(state: DataFrame): DataFrame = {
    val syms = symbols(col("sym"))
    // zip_with evaluates its array children ONCE per row; the
    // transform(sequence...) form it replaces re-evaluated the symbols
    // split inside the interpreted lambda PER ELEMENT (O(|word|^2))
    val pairs = when(size(syms) >= 2,
      zip_with(slice(syms, lit(1), size(syms) - 1),
        slice(syms, lit(2), size(syms) - 1),
        (a, b) => struct(a.as("lhs"), b.as("rhs"))))
      .otherwise(array().cast("array<struct<lhs:string,rhs:string>>"))
    state.select(col("cnt"), explode(pairs).as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum(col("cnt")).as("n"))
  }

  /** Learn `nMerges` merge rules from the corpus. Returns the merge
    * table (driver-side, nMerges entries — the model) plus the final
    * word-table state (word, cnt, sym) for dictionary-join encoding.
    * `trainSampleMod` > 1 trains on the deterministic 1/mod md5
    * hash-sample of documents. The loop stops early if the vocabulary
    * runs out of adjacent pairs.
    *
    * BATCHED merge selection — jobs ∝ passes, not merges, and EXACTLY
    * the sequential argmax loop's output. Per pass, rank the remaining
    * candidate pairs by (n DESC, lhs, rhs) and accept a PREFIX
    * c_1..c_m such that the sequential loop provably picks exactly
    * c_1, ..., c_m next:
    *  - c_1 is the true argmax — always accepted, so a pass always
    *    progresses and the worst case degrades to the old schedule;
    *  - c_i (i>1) is accepted only if its symbols are disjoint from
    *    every earlier accepted merge's {lhs, rhs, lhs+rhs} — applying
    *    those merges then neither creates nor destroys occurrences of
    *    c_i, so its count and tie-break rank are unchanged when the
    *    sequential loop reaches it;
    *  - every pair a merge (l,r)→z can CREATE is (x,z) or (z,y);
    *    every occurrence of x·z was x·l·r before the merge (and of
    *    z·y was l·r·y), so its count is bounded by the pre-pass
    *    count of the TRIPLE (x,l,r) resp. (l,r,y). This holds for
    *    later merges in the same pass too: a created symbol z' ends
    *    with its rhs, so an adjacency through z' maps back to a
    *    pre-pass triple over original symbols. c_i is accepted only
    *    while the max triple bound over all earlier accepted merges
    *    is STRICTLY below n_i — no created pair can outrank it (a
    *    tie could win the lexicographic break, hence strict). The
    *    triple bound is far tighter than the naive pair bound
    *    max(count(x,l)), which on natural text stops nearly every
    *    pass after one merge (the top pairs share letters with
    *    other frequent pairs);
    *  - a z that collides with a symbol already active in some pair
    *    would ADD created counts onto that symbol's existing pairs,
    *    voiding the bound — acceptance stops after such a merge.
    * The first rejection ends the pass: a skipped candidate may belong
    * BETWEEN later ones in sequential order. Each pass costs two small
    * jobs over the vocab-sized pair table (top-k + the bound/collision
    * aggregate) instead of one job per merge. */
  def train(docs: DataFrame, nMerges: Int = 8,
      trainSampleMod: Int = 1): (Seq[Merge], DataFrame) = {
    val base =
      if (trainSampleMod <= 1) docs
      else docs.filter(pmod(md5Long(col("doc_id").cast(StringType)),
        lit(trainSampleMod.toLong)) === 0)
    var state = tracked(wordsOf(base)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("sym", symInit(col("word"))))
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var exhausted = false
    lastTrainPasses = 0
    while (merges.size < nMerges && !exhausted) {
      lastTrainPasses += 1
      val want = nMerges - merges.size
      val pc = pairCounts(state)
      val top = pc.orderBy(col("n").desc, col("lhs"), col("rhs"))
        .limit(want).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (top.isEmpty) exhausted = true
      else {
        val keys = top.map(t => t._1 + Sep + t._2).distinct.toSeq
        val zs = top.map(t => t._1 + t._2).distinct.toSeq
        // one job over the word table: per candidate (l,r), the max
        // weighted count of triples (x,l,r) (bounds created left-pairs
        // (x,z)) and (l,r,y) (bounds created right-pairs (z,y)); per
        // candidate z, whether z is already an active symbol (a
        // collision would merge created counts into existing pairs,
        // voiding the bound)
        val syms = symbols(col("sym"))
        // nested zip_with: array children evaluated once per row (the
        // transform(sequence...) form re-split the symbols per element)
        val tri = when(size(syms) >= 3,
          zip_with(
            zip_with(slice(syms, lit(1), size(syms) - 2),
              slice(syms, lit(2), size(syms) - 2),
              (a, b) => struct(a.as("a"), b.as("b"))),
            slice(syms, lit(3), size(syms) - 2),
            (ab, c) => struct(ab.getField("a").as("a"),
              ab.getField("b").as("b"), c.as("c"))))
          .otherwise(array()
            .cast("array<struct<a:string,b:string,c:string>>"))
        val triples = state.select(col("cnt"), explode(tri).as("t"))
          .select(col("cnt"), col("t.a"), col("t.b"), col("t.c"))
        val leftB = triples
          .filter(concat(col("b"), lit(Sep), col("c"))
            .isInCollection(keys))
          .groupBy(concat(col("b"), lit(Sep), col("c")).as("s"),
            col("a"))
          .agg(sum(col("cnt")).as("tn"))
          .groupBy(col("s")).agg(max(col("tn")).as("b"))
          .withColumn("g", lit("L"))
        val rightB = triples
          .filter(concat(col("a"), lit(Sep), col("b"))
            .isInCollection(keys))
          .groupBy(concat(col("a"), lit(Sep), col("b")).as("s"),
            col("c"))
          .agg(sum(col("cnt")).as("tn"))
          .groupBy(col("s")).agg(max(col("tn")).as("b"))
          .withColumn("g", lit("R"))
        val zHit = pc
          .select(explode(array(col("lhs"), col("rhs"))).as("s"))
          .filter(col("s").isInCollection(zs))
          .groupBy(col("s")).agg(count(lit(1)).as("b"))
          .withColumn("g", lit("Z"))
        val aux = leftB.unionByName(rightB).unionByName(zHit).collect()
          .map(r => (r.getString(2), r.getString(0)) -> r.getLong(1))
          .toMap
        val before = merges.size
        val banned = scala.collection.mutable.Set.empty[String]
        var bound = Long.MinValue
        var open = true
        top.foreach { case (l, r, n) =>
          if (open) {
            val z = l + r
            val conflicts = banned.contains(l) || banned.contains(r) ||
              banned.contains(z)
            if (banned.nonEmpty && (conflicts || bound >= n)) open = false
            else {
              merges += Merge(merges.size + 1, l, r, n)
              banned += l; banned += r; banned += z
              val k = l + Sep + r
              bound = math.max(bound, math.max(
                aux.getOrElse(("L", k), Long.MinValue),
                aux.getOrElse(("R", k), Long.MinValue)))
              if (aux.contains(("Z", z))) bound = Long.MaxValue
            }
          }
        }
        // apply the pass's accepted merges in rank order — one state
        // update per pass instead of per merge. trackedLeaf (not
        // tracked) TRUNCATES the lineage: a persisted state's plan
        // still embeds every earlier pass's cached plan, so explain
        // strings and analyzer work grow quadratically with passes —
        // at nMerges=64 the SQL listener's explainString alone OOMs
        // the driver. Unlike localCheckpoint, the truncated leaf stays
        // in the CacheManager, so the owning cache scope frees it.
        state = trackedLeaf(state.withColumn("sym",
          merges.drop(before).foldLeft(col("sym"))((c, m) =>
            applyMerge(c, m.lhs, m.rhs))))
      }
    }
    (merges.toSeq, state)
  }

  /** The learned merge table as a DataFrame — q124's output. */
  def mergeTable(docs: DataFrame, nMerges: Int = 8,
      trainSampleMod: Int = 1): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    train(docs, nMerges, trainSampleMod)._1
      .map(m => (m.rank, m.lhs, m.rhs, m.pairN))
      .toDF("rank", "lhs", "rhs", "pair_n")
  }

  /** Per-document token counts under the trained tokenizer — q125's
    * output and the drop-in upgrade for token budgeting/mixing/packing.
    * The corpus encodes via a distinct-word dictionary join (each
    * distinct word pays the replace chain once); words missing from a
    * SAMPLED training vocabulary fall back to per-character counts via
    * the same literalized expression chain, so sampled training never
    * drops a document. Output: (doc_id, n_words, bpe_tokens, n_chars,
    * ratio_permille) — all exact integers. */
  def tokenCounts(docs: DataFrame, nMerges: Int = 8,
      trainSampleMod: Int = 1): DataFrame = {
    val (merges, _) = train(docs, nMerges, trainSampleMod)
    // every distinct corpus word through the literalized merge chain —
    // covers OOV-vs-training words by construction
    val dict = wordsOf(docs).distinct()
      .select(col("word"),
        size(symbols(encodeExpr(col("word"), merges))).as("n_sym"))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("n"))
      .join(dict, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("n_sym")).as("bpe_tokens"),
        sum(col("n") * length(col("word"))).as("n_chars"))
      .select(col("doc_id"), col("n_words"), col("bpe_tokens"),
        col("n_chars"),
        expr("bpe_tokens * 1000 div n_chars").as("ratio_permille"))
  }
}
