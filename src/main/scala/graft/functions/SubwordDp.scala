package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Per-word subword segmentation — BOTH objectives of the Unigram kit
  * (Viterbi integer-lexicographic and WordPiece greedy
  * longest-match-first) as ONE native row-local [[Kernel]]
  * (`subword_dp`) over the word's own matched lexicon pieces.
  *
  * Replaces the per-position DP ROUNDS (maxWordLen rounds of a
  * frontier--lexicon equi-join + min/argmax aggregation, each round a
  * lineage-truncated materialization job): the matched-piece set of one
  * word is at most maxWordLen x maxPieceLen entries, so after ONE join
  * of the word-substring enumeration against the lexicon the whole DP is
  * a per-row loop. Work is vocab x wordLen x pieceLen, exactly as
  * before, minus ~2 x maxWordLen scheduler round-trips per call.
  *
  * Semantics are bit-identical to the round form (UnigramSpec pins the
  * fixtures; the DuckDB oracle re-verifies end to end):
  *  - Viterbi: dp(k) = min over pieces word[j..k) of dp(j) + (Big -
  *    min(freq, FreqClamp)); n_pieces = ceil(cost / Big), clamped
  *    piece_freq_sum = n_pieces*Big - cost.
  *  - Greedy: at each position take the LONGEST matching piece
  *    (duplicate lexicon rows for one piece keep the max freq — the
  *    old max(struct(l, freq)) argmax), advance, sum RAW freqs.
  *  - An unreachable word (Viterbi) or a stuck position (greedy) yields
  *    NULL in that objective's fields — the caller raises loudly, as
  *    the round form did (null-cost raise_error / unfinished require).
  *
  * Columns: (wordLen: int, pieces: array<struct<pos:int, len:int,
  * freq:long>>), pos 0-based, piece = word[pos, pos+len). The pieces
  * array arrives in ARBITRARY collect_list order; the kernel indexes by
  * (pos, len), so order never matters. */
object SubwordDp {

  private val result = StructType(Seq(
    StructField("v_np", LongType, nullable = true),
    StructField("v_fs", LongType, nullable = true),
    StructField("g_np", LongType, nullable = true),
    StructField("g_fs", LongType, nullable = true)))

  /** Both objectives over one word's matched pieces; see the object
    * scaladoc for the exact semantics. */
  def segment(n: Int, pieces: ArrayData, big: Long, freqClamp: Long,
      maxPieceLen: Int): InternalRow = {
    // (pos, len) -> max freq among matches (duplicate lexicon rows keep
    // the max — the round form's argmax/min-cost behavior)
    val width = maxPieceLen + 1
    val present = new Array[Boolean](n * width)
    val freq = new Array[Long](n * width)
    var i = 0
    val np = pieces.numElements()
    while (i < np) {
      val r = pieces.getStruct(i, 3)
      val pos = r.getInt(0); val len = r.getInt(1); val f = r.getLong(2)
      if (pos >= 0 && len >= 1 && len <= maxPieceLen && pos + len <= n) {
        val k = pos * width + len
        if (!present(k) || f > freq(k)) { present(k) = true; freq(k) = f }
      }
      i += 1
    }
    // Viterbi over positions
    val unreached = Long.MaxValue
    val dp = Array.fill(n + 1)(unreached)
    dp(0) = 0L
    var k = 1
    while (k <= n) {
      var j = math.max(0, k - maxPieceLen)
      while (j < k) {
        val slot = j * width + (k - j)
        if (dp(j) != unreached && present(slot)) {
          val c = dp(j) + (big - math.min(freq(slot), freqClamp))
          if (c < dp(k)) dp(k) = c
        }
        j += 1
      }
      k += 1
    }
    val out = new GenericInternalRow(4)
    if (dp(n) != unreached) {
      val vnp = (dp(n) + big - 1) / big
      out.update(0, vnp)
      out.update(1, vnp * big - dp(n))
    } else { out.setNullAt(0); out.setNullAt(1) }
    // greedy longest-match-first
    var pos = 0; var gnp = 0L; var gfs = 0L; var stuck = false
    while (pos < n && !stuck) {
      var l = math.min(maxPieceLen, n - pos)
      var taken = false
      while (l >= 1 && !taken) {
        val slot = pos * width + l
        if (present(slot)) {
          gnp += 1L; gfs += freq(slot); pos += l; taken = true
        }
        l -= 1
      }
      if (!taken) stuck = true
    }
    if (!stuck) { out.update(2, gnp); out.update(3, gfs) }
    else { out.setNullAt(2); out.setNullAt(3) }
    out
  }

  def apply(wordLen: Column, pieces: Column, big: Long, freqClamp: Long,
      maxPieceLen: Int): Column =
    Kernel.column("subword_dp", this, "segment", result, Seq(wordLen, pieces),
      big, freqClamp, maxPieceLen)
}
