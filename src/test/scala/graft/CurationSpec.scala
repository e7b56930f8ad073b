package graft

import org.apache.spark.sql.functions._

import graft.ops._

/** Specs for the round-4 curation operators: Misra-Gries heavy hitters,
  * line-level dedup, contamination detection, the Bloom rejection filter,
  * shard export, and repetition metrics. The oracle gate (q66-q71) pins
  * each against DuckDB end to end; these pin the algorithmic guarantees
  * and edge cases the planted corpora don't reach. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  // ---- Misra-Gries ----

  private def zipfStream(n: Int): Seq[String] = {
    val rnd = new scala.util.Random(42)
    (0 until n).map { _ =>
      val r = rnd.nextInt(100)
      if (r < 40) "hot0" else if (r < 60) "hot1" else if (r < 70) "hot2"
      else s"tail${rnd.nextInt(500)}"
    }
  }

  test("misra-gries: every item over n/(k+1) survives reduce and merge") {
    val stream = zipfStream(5000)
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (k <- Seq(3, 10, 50)) {
      val agg = new MisraGriesAgg(k)
      // reduce-only path
      val seq = stream.foldLeft(agg.zero)(agg.reduce)
      // chunked reduce + merge path (what partial aggregation runs)
      val merged = stream.grouped(617)
        .map(_.foldLeft(agg.zero)(agg.reduce))
        .reduce(agg.merge)
      for (sk <- Seq(seq, merged)) {
        assert(sk.n == stream.size)
        assert(sk.counters.size <= k)
        truth.foreach { case (item, c) =>
          if (c > stream.size.toLong / (k + 1))
            assert(sk.counters.contains(item),
              s"k=$k lost $item with count $c > n/(k+1)")
          // counters are lower bounds, never overcounts
          sk.counters.get(item).foreach(est => assert(est <= c))
        }
      }
    }
  }

  test("heavy hitters: sketch + exact recount equals the brute-force answer") {
    val docs = zipfStream(800).grouped(40).zipWithIndex
      .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    val got = TextAnalysis.heavyHitters(docs, phi = 20L, k = 40)
      .orderBy("shingle")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val sh = Dedup.shingleSet(docs).collect().map(_.getString(1)).toSeq
    val n = sh.size.toLong
    val want = sh.groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, c) => c * 20L >= n }
      .toSeq.sortBy(_._1)
    assert(got.toSeq == want)
  }

  // ---- line dedup ----

  test("line dedup: boilerplate lines strip, order survives, empty docs surface") {
    val docs = Seq(
      (0L, "banner\nunique zero\nfooter"),
      (1L, "banner\nunique one a\nunique one b\nfooter"),
      (2L, "banner\nfooter"), // nothing survives
      (3L, "solo document line")) // untouched
      .toDF("doc_id", "text")
    val r = Dedup.lineDedup(docs, minDf = 3L).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(0L).getAs[Long]("n_lines_kept") == 1L)
    assert(r(1L).getAs[Long]("n_lines_kept") == 2L)
    assert(r(1L).getAs[Long]("n_lines_dropped") == 2L)
    // order: "unique one a\nunique one b", not the reverse
    val expectHash = spark.sql(
      "SELECT md5('unique one a\nunique one b')").head.getString(0)
    assert(r(1L).getAs[String]("rebuilt_hash") == expectHash)
    assert(r(2L).getAs[Long]("n_lines_kept") == 0L)
    assert(r(2L).getAs[Int]("n_chars_kept") == 0)
    assert(r(3L).getAs[Long]("n_lines_dropped") == 0L)
  }

  test("line dedup equals a brute-force recompute on random corpora") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rnd = new scala.util.Random(13)
    val pool = (0 until 60).map(i => s"line body $i")
    val corpus = (0L until 50L).map { i =>
      (i, (0 until rnd.nextInt(6) + 1)
        .map(_ => pool(rnd.nextInt(pool.size))).mkString("\n"))
    }
    val got = Dedup.lineDedup(corpus.toDF("doc_id", "text"), minDf = 6L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getInt(3), r.getString(4))).toMap
    // df counts distinct DOCUMENTS (a line twice in one doc counts once)
    val df = corpus.flatMap { case (id, t) =>
      t.split("\n", -1).distinct.map(l => (l, id))
    }.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size.toLong).toMap
    val want = corpus.map { case (id, t) =>
      val ls = t.split("\n", -1)
      val kept = ls.filter(l => df(l) < 6L)
      val rebuilt = kept.mkString("\n")
      id -> (kept.length.toLong, (ls.length - kept.length).toLong,
        rebuilt.length, md5hex(rebuilt))
    }.toMap
    assert(got == want)
    assert(want.values.exists(_._2 > 0), "fixture must drop some lines")
    assert(want.values.exists(_._1 > 0), "fixture must keep some lines")
    TextKit.releaseCaches()
  }

  // ---- contamination ----

  test("contamination: leaked benchmark text flags, clean docs don't") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta"))
      .toDF("bench_id", "text")
    val corpus = Seq(
      (0L, "own words here nothing shared at all with anything else listed"),
      (1L, "prefix text then alpha beta gamma delta epsilon zeta eta appended"))
      .toDF("doc_id", "text")
    val r = Dedup.contamination(corpus, bench, n = 5, tau = 0.5).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("doc_id") == 1L)
    assert(r.head.getAs[Long]("bench_id") == 100L)
    // all 3 bench 5-grams appear in doc 1
    assert(r.head.getAs[Long]("overlap") == 3L)
    assert(r.head.getAs[Double]("contamination") == 1.0)
  }

  // ---- bloom ----

  test("bloom: no false negatives; rejectFilter equals plain anti-join") {
    val rnd = new scala.util.Random(7)
    val ids = (0 until 400).map(_ => rnd.nextLong() % 1000000L).distinct
    val block = ids.filter(_ % 3 == 0)
    val big = ids.toDF("id")
    val blockDf = block.toDF("id")
    val bits = Bloom.build(blockDf, "id", numBits = 1 << 12, numHashes = 4)
    // every inserted key probes true
    val probed = blockDf
      .filter(Bloom.mightContain(bits, col("id"), 1 << 12, 4)).count()
    assert(probed == block.size.toLong)
    val got = Bloom.rejectFilter(big, "id", blockDf, "id",
      numBits = 1 << 12, numHashes = 4).collect().map(_.getLong(0)).sorted
    val want = big.join(blockDf, Seq("id"), "left_anti")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == want.toSeq)
  }

  test("bloom: empty blocklist keeps everything without joining") {
    val big = (1L to 50L).toDF("id")
    val empty = Seq.empty[Long].toDF("id")
    val r = Bloom.rejectFilter(big, "id", empty, "id")
    assert(r.count() == 50L)
  }

  test("bloom: string id columns and null blocklist keys match the anti-join") {
    // "007" must coerce like the join does, not hash as a raw string
    val big = Seq("007", "7", "12", "0042").toDF("id")
    val blockDf = Seq[java.lang.Long](7L, 42L, null).toDF("id")
    val got = Bloom.rejectFilter(big, "id", blockDf, "id")
      .collect().map(_.getString(0)).sorted.toSeq
    val want = big.join(blockDf, Seq("id"), "left_anti")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(got == want)
    assert(got == Seq("12"), "coerced 007/0042 are true rejects")
  }

  test("line dedup: a spammy doc repeating its own line is not boilerplate") {
    val docs = Seq(
      (0L, Seq.fill(12)("my own repeated line").mkString("\n")),
      (1L, "another doc entirely"))
      .toDF("doc_id", "text")
    val r = Dedup.lineDedup(docs, minDf = 10L).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("n_lines_kept"))
      .toMap
    // df counts DISTINCT docs: the line appears in one doc, so it stays
    assert(r(0L) == 12L)
    assert(r(1L) == 1L)
  }

  test("bloom: auto-sizing tracks blocklist cardinality, keeping the fast path selective") {
    // sizeBits math: 2^16 floor, ~10 bits/key in 64-bit words, 2^26 cap
    assert(Bloom.sizeBits(0) == 1 << 16)
    assert(Bloom.sizeBits(6000) == 1 << 16)      // under the floor
    assert(Bloom.sizeBits(100000) == 1000000)    // 10 bits/key, %64==0
    assert(Bloom.sizeBits(100000) % 64 == 0)
    assert(Bloom.sizeBits(100000000L) == 1 << 26) // capped
    // a 30k-key blocklist saturates the old fixed 2^16 default (fill
    // factor ~1 -> every probe true); auto-sizing keeps the filter
    // selective: most non-members short-circuit without the join
    val blockDf = spark.range(30000).select(($"id" * 7 + 3).as("id"))
    val big = spark.range(100000).toDF("id")
    val words = Bloom.build(blockDf, "id", Bloom.sizeBits(30000), 4)
    val fill = words.map(java.lang.Long.bitCount).sum.toDouble /
      (Bloom.sizeBits(30000).toDouble)
    assert(fill < 0.4, f"auto-sized fill factor must stay low, got $fill%.2f")
    val got = Bloom.rejectFilter(big, "id", blockDf, "id")
      .count()
    val want = big.join(blockDf, Seq("id"), "left_anti").count()
    assert(got == want)
  }

  test("bloom: null ids survive like the plain anti-join keeps them") {
    val big = Seq[java.lang.Long](1L, 2L, null, 7L).toDF("id")
    val blockDf = Seq(7L).toDF("id")
    val got = Bloom.rejectFilter(big, "id", blockDf, "id")
      .collect().map(r => Option(r.get(0))).toSet
    val want = big.join(blockDf, Seq("id"), "left_anti")
      .collect().map(r => Option(r.get(0))).toSet
    assert(got == want)
    assert(got.contains(None), "the null id row must be kept")
  }

  // ---- export ----

  test("shard export: manifest matches brute force, layout is one dir per shard") {
    val docs = (0L until 200L).map(i => (i, s"text $i", 10L + i % 7))
      .toDF("doc_id", "text", "n_chars")
    val summary = Export.shardSummary(docs, "doc_id", nShards = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    val brute = Export.shardAssign(docs, "doc_id", 8)
      .groupBy("shard").agg(count(lit(1)), sum("n_chars"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(summary == brute)
    assert(summary.values.map(_._1).sum == 200L)

    val dir = java.nio.file.Files.createTempDirectory("graft-shards").toString
    try {
      Export.exportShards(docs, "doc_id", 8, dir)
      val shardDirs = new java.io.File(dir).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("shard=")).toSeq
      assert(shardDirs.map(_.getName).sorted ==
        summary.keys.toSeq.sorted.map(s => s"shard=$s"))
      // one data file per shard directory
      shardDirs.foreach { sd =>
        assert(sd.listFiles().count(_.getName.endsWith(".parquet")) == 1)
      }
      val back = spark.read.parquet(dir)
      assert(back.count() == 200L)
      assert(back.join(docs, Seq("doc_id"), "left_anti").count() == 0L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  // ---- sequence packing ----

  test("sequence packing: pack = start-offset div budget, shards independent") {
    val docs = (0L until 120L).map(i => (i, Seq.fill((i % 13 + 1).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Export.packSequences(docs, budget = 16L, nShards = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4)))
    assert(got.length == 120)
    // driver recompute: group by shard, order by (hkey, id), running sum
    val byShard = got.groupBy(_._2)
    byShard.foreach { case (_, rows) =>
      val ordered = rows.sortBy(r => (Bloom.md5Long60(r._1.toString), r._1))
      var cum = 0L
      ordered.foreach { case (_, _, packId, _, n) =>
        assert(packId == cum / 16L, s"pack id must be start-offset div budget")
        cum += n
      }
      // pack_pos is 1..k within each pack in the same order
      ordered.groupBy(_._3).foreach { case (_, packRows) =>
        assert(packRows.map(_._4).sorted.toSeq == (1 to packRows.size))
      }
    }
    // every shard used (uniform hash over 120 ids)
    assert(byShard.keySet == Set(0L, 1L, 2L, 3L))
  }

  // ---- curation pipeline ----

  test("curation pipeline equals the composed individual operators") {
    val mk = (i: Long, lang: String, toks: Int, dup: Boolean) =>
      (i, (if (dup) Seq.fill(toks)("Dup!") else (0 until toks).map(t => s"W${(i * 31 + t) % 97}x")).mkString(" "), lang)
    val docs = ((0L until 40L).map(i => mk(i, if (i % 2 == 0) "en" else "de", 35, i < 10)) ++
      Seq(mk(100L, "en", 5, false))) // under the 30-token gate
      .toDF("doc_id", "text", "lang")
    val got = Curation.curate(docs, nShards = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // brute force: normalize, gate, dedup (min id), sample, manifest
    val norm = docs.select(col("doc_id"), col("lang"),
      TextAnalysis.normExpr(col("text")).as("norm"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .filter(_._3.split(" ", -1).length >= 30)
    val canon = norm.groupBy(_._3).map(_._2.minBy(_._1)).toSeq
    val sampled = canon.filter { case (id, lang, _) =>
      Bloom.md5Long60(id.toString) % 100 <
        (if (lang == "en") 10 else if (lang == "de") 50 else 20)
    }
    val want = sampled.groupBy { case (id, _, _) => Bloom.md5Long60(id.toString) % 4 }
      .map { case (shard, rows) =>
        shard -> (rows.size.toLong, rows.map(_._3.length.toLong).sum,
          rows.map(r => Bloom.md5Long60(r._1.toString) % Dedup.P).sum)
      }
    assert(got == want)
    // the planted duplicates collapsed: ids 1..9 are gone, 0 may survive
    assert(!got.isEmpty)
    val survivors = sampled.map(_._1).toSet
    assert(survivors.intersect((1L to 9L).toSet).isEmpty)
  }

  // ---- chunking ----

  test("chunking: stride/overlap reconstruction matches a driver recompute") {
    val docs = Seq(
      (0L, (1 to 150).map(i => s"t$i").mkString(" ")), // 3 chunks
      (1L, (1 to 64).map(i => s"u$i").mkString(" ")),  // exactly one window, ONE chunk
      (2L, "tiny doc"))                                 // 1 chunk
      .toDF("doc_id", "text")
    val got = Export.chunkDocuments(docs, chunkTokens = 64, overlap = 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getString(3))).toMap
    val want = Seq(0L -> 150, 1L -> 64, 2L -> 2).flatMap { case (id, n) =>
      val toks = docs.filter(col("doc_id") === id)
        .head.getString(1).split(" ", -1)
      val nChunks = math.max(1, (n - 16 + 47) / 48)
      (0 until nChunks).map { i =>
        val chunk = toks.slice(i * 48, math.min(i * 48 + 64, n))
        (id, i.toLong) -> (chunk.length,
          spark.sql(s"SELECT md5('${chunk.mkString(" ")}')").head.getString(0))
      }
    }.toMap
    assert(got == want)
    // no chunk is a pure suffix of its predecessor: every chunk past the
    // first must extend beyond the previous chunk's end
    assert(!got.contains((1L, 1L)), "64 tokens fit one window -> one chunk")
    assert(got((0L, 0L))._1 == 64 && got((0L, 1L))._1 == 64 &&
      got((0L, 2L))._1 == 54) // 150 - 2*48
  }

  test("unigram score equals the brute-force frequency mass") {
    val docs = Seq(
      (0L, "the the rare"), (1L, "the common common"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.unigramScore(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3)))
      .toMap
    // corpus tf: the=3, rare=1, common=2
    assert(r(0L) == ((3L, 3L * 2 + 1L * 1, (3.0 * 2 + 1) / 3))
      || r(0L) == ((3L, 7L, 7.0 / 3)))
    assert(r(1L)._2 == 3L * 1 + 2L * 2) // the*1 + common*2·... = 3 + 4
    TextKit.releaseCaches()
  }

  test("connected components: empty and self-pair-only inputs") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Components.connectedComponents(empty).count() == 0)
    assert(Components.connectedComponentsStars(empty).count() == 0)
    // a doc appearing only in a reflexive pair is its own component in
    // BOTH variants
    val selfOnly = Seq((42L, 42L), (1L, 2L)).toDF("doc_a", "doc_b")
    for (labels <- Seq(Components.connectedComponents(selfOnly),
        Components.connectedComponentsStars(selfOnly))) {
      val m = labels.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(m == Map(42L -> 42L, 1L -> 1L, 2L -> 1L))
    }
    TextKit.releaseCaches()
  }

  test("connected components: the star-forest check and the global " +
      "rounds label alike") {
    import org.apache.spark.sql.{DataFrame, Encoder}
    import scala.reflect.ClassTag
    type Labels = Map[Option[Any], Option[Any]]
    // one partition per slice
    def pairs[A: Encoder: ClassTag](slices: Seq[Seq[A]]): DataFrame =
      spark.sparkContext.parallelize(slices, slices.size).flatMap(s => s)
        .toDF("doc_a", "doc_b")
    def run(df: DataFrame, stars: Boolean, maxIters: Int): Labels =
      (if (stars) Components.connectedComponentsStars(df, maxIters = maxIters)
        else Components.connectedComponents(df, maxIters = maxIters))
        .collect().map(r => Option(r.get(0)) -> Option(r.get(1))).toMap
    def labels(kv: (Any, Any)*): Labels =
      kv.map { case (k, v) => Option(k) -> Option(v) }.toMap
    // Alone, each fixture leaves the local phase as stars: the check
    // passes, so even maxIters = 0 answers. With a 3-node chain split
    // over two more partitions the check fails, no answer comes without
    // rounds, and the rounds label the fixture the same.
    def alike[A: Encoder: ClassTag](fixture: String, slices: Seq[Seq[A]],
        chain: Seq[A], chainIds: Seq[Any], cc: Labels, stars: Labels): Unit = {
      val spread = pairs(slices ++ chain.map(Seq(_)))
      val chainLabels = labels(chainIds.map(_ -> chainIds.head): _*)
      for ((variant, want) <- Seq(false -> cc, true -> stars)) {
        val name = s"$fixture, ${if (variant) "stars" else "min-label"}"
        assert(run(pairs(slices), variant, maxIters = 0) == want, name)
        intercept[IllegalArgumentException](run(spread, variant, 0))
        assert(run(spread, variant, maxIters = 50) == want ++ chainLabels,
          name)
      }
    }
    val chain = Seq((100L, 101L), (101L, 102L))
    val chainIds = Seq(100L, 101L, 102L)
    alike("empty", Seq(Seq.empty[(Long, Long)]), chain, chainIds,
      labels(), labels())
    val selfOnly = labels(42L -> 42L, 7L -> 7L)
    alike("reflexive only", Seq(Seq((42L, 42L), (7L, 7L), (7L, 7L))),
      chain, chainIds, selfOnly, selfOnly)
    val reflexive = labels(42L -> 42L, 1L -> 1L, 2L -> 1L)
    alike("reflexive and one pair", Seq(Seq((42L, 42L), (1L, 2L))),
      chain, chainIds, reflexive, reflexive)
    // the same star emitted by two partitions: min/max, not counts
    val dup = labels(1L -> 1L, 2L -> 1L, 3L -> 1L)
    alike("duplicate pairs", Seq(Seq((1L, 2L), (1L, 3L), (2L, 1L)),
      Seq((1L, 2L), (3L, 1L), (1L, 3L))), chain, chainIds, dup, dup)
    // NULL partners of centres only: NULL gets the smallest partner
    // (min-label) or stays NULL (stars)
    val withNulls = Seq[(Option[Long], Option[Long])](
      (Some(4L), None), (None, Some(2L)), (Some(2L), Some(3L)),
      (Some(5L), Some(4L)), (None, None), (Some(9L), Some(9L)))
    val nullCc = labels((null, 2L), 2L -> 2L, 3L -> 2L, 4L -> 4L,
      5L -> 4L, 9L -> 9L)
    alike("NULL endpoint", Seq(withNulls),
      chain.map { case (a, b) => (Option(a), Option(b)) }, chainIds,
      nullCc, nullCc + (None -> None))
    val ints = labels(1 -> 1, 2 -> 1, 3 -> 1, 4 -> 1, 10 -> 10, 11 -> 10,
      12 -> 10, 20 -> 20, 21 -> 20)
    alike("int ids", Seq(Seq((1, 2), (2, 3), (3, 4), (10, 11), (11, 12),
      (10, 12), (20, 21))), Seq((100, 101), (101, 102)), Seq(100, 101, 102),
      ints, ints)
    // a NULL partner of a leaf: its min-label is the leaf's centre, which
    // only the rounds give it, so that check fails (the stars check drops
    // NULL edges and passes)
    val leafNull = pairs(Seq(Seq[(Option[Long], Option[Long])](
      (Some(10L), Some(11L)), (Some(11L), None))))
    intercept[IllegalArgumentException](run(leafNull, stars = false, 0))
    assert(run(leafNull, stars = false, 50) ==
      labels(10L -> 10L, 11L -> 10L, (null, 10L)))
    assert(run(leafNull, stars = true, 0) ==
      labels(10L -> 10L, 11L -> 10L, (null, null)))
    TextKit.releaseCaches()
  }

  // ---- row-local signatures ----

  test("row-local minhash signatures equal the aggregated form") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val local = Dedup.signaturesLocal(docs).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val agg = Dedup.minhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(local.nonEmpty)
    assert(local == agg)
    // short docs (no shingles) drop from both paths
    val tiny = Seq((1L, "solo"), (2L, "two tokens")).toDF("doc_id", "text")
    assert(Dedup.signaturesLocal(tiny).collect().map(_.getLong(0)).toSet
      == Set(2L))
    TextKit.releaseCaches()
  }

  // ---- shared substrings ----

  test("substring pairs: a shared 25-token run yields its 6 windows") {
    val run = (1 to 25).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (0L, s"alpha beta $run gamma delta"),
      (1L, s"one two three four $run five"),
      (2L, "totally unrelated text with plenty of words but no shared runs at all"))
      .toDF("doc_id", "text")
    val r = Dedup.sharedSubstringPairs(docs).collect()
    assert(r.length == 1)
    assert(r.head.getLong(0) == 0L && r.head.getLong(1) == 1L)
    // 25-token run -> 25 - 20 + 1 = 6 distinct shared windows; the
    // boundary windows differ (different surrounding text)
    assert(r.head.getLong(2) == 6L)
    TextKit.releaseCaches()
  }

  test("preference pairs: one champion per pool, margin band excluded, " +
      "ties break to smaller id") {
    // TTR score: d1/d2 = 1.0 (all-distinct, TIED champions), d3 near
    // the champion (inside the 100k margin), d4 far behind (pairs)
    val docs = Seq(
      (1L, "a b c d e f g h i j", "en", "web"),              // 1000000
      (2L, "k l m n o p q r s t", "en", "web"),              // 1000000 tie
      (3L, "u v w x y z aa bb cc dd u", "en", "web"),        // 909090
      (4L, "dup dup dup dup dup dup dup dup dup dup", "en", "web"), // 100000
      (5L, "solo pool other lang words here", "fr", "web"))  // own pool
      .toDF("doc_id", "text", "lang", "source")
    val r = Curation.preferencePairs(docs)
      .collect().map(x => x.getAs[Long]("rejected_id") -> x).toMap
    // only d4 trails the champion by >= 100k; d3 sits inside the band,
    // the tied runner-up d2 (margin 0) and the champion itself never pair
    assert(r.keySet == Set(4L))
    assert(r(4L).getAs[Long]("chosen_id") == 1L, "tie breaks to smaller id")
    assert(r(4L).getAs[Long]("chosen_score") == 1000000L)
    assert(r(4L).getAs[Long]("rejected_score") == 100000L)
    assert(r(4L).getAs[Long]("margin") == 900000L)
    TextKit.releaseCaches()
  }

  test("span excision: shared runs cut everywhere, within-doc repeats cut, " +
      "unique text untouched") {
    val run = (1 to 6).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (0L, s"a b $run c"),                    // 9 tokens, loses the 6-run
      (1L, s"x $run y z"),                    // 9 tokens, loses the 6-run
      (2L, "u1 u2 u3 u4 u5 u6 u7 u8"),        // unique: untouched
      (3L, "p q m1 m2 m3 m4 m5 s m1 m2 m3 m4 m5 t")) // self-repeat: both cut
      .toDF("doc_id", "text")
    val r = Dedup.exciseRepeatedSpans(docs, window = 5).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(0L).getAs[Long]("n_removed") == 6L)
    assert(r(1L).getAs[Long]("n_removed") == 6L)
    // surviving text is exactly the non-run tokens, in order
    assert(r(0L).getAs[Long]("n_chars_kept") == "a b c".length.toLong)
    assert(r(1L).getAs[Long]("n_chars_kept") == "x y z".length.toLong)
    // untouched doc keeps every token and hashes to its original text
    assert(r(2L).getAs[Long]("n_removed") == 0L)
    assert(r(2L).getAs[String]("clean_hash") ==
      org.apache.commons.codec.digest.DigestUtils.md5Hex("u1 u2 u3 u4 u5 u6 u7 u8"))
    // within-doc repetition: BOTH occurrences of the repeated 5-run go
    assert(r(3L).getAs[Long]("n_removed") == 10L)
    assert(r(3L).getAs[Long]("n_chars_kept") == "p q s t".length.toLong)
    TextKit.releaseCaches()
  }

  test("substring pairs equal a brute-force recompute on random corpora") {
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 12).map(i => s"w$i")
    // short docs from a tiny vocab at window=3: natural collisions abound
    val corpus = (0L until 60L).map { i =>
      (i, (0 until rnd.nextInt(12) + 3)
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val got = Dedup.sharedSubstringPairs(
        corpus.toDF("doc_id", "text"), window = 3, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // brute force with the same df band
    val windows = corpus.flatMap { case (id, t) =>
      t.split(" ", -1).sliding(3).filter(_.length == 3)
        .map(w => (id, w.mkString(" "))).toSeq.distinct
    }
    val byWin = windows.groupBy(_._2).view
      .mapValues(_.map(_._1).distinct.sorted)
      .filter { case (_, ids) => ids.length >= 2 && ids.length <= 10 }
    val want = byWin.toSeq.flatMap { case (_, ids) =>
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == want)
    assert(got.nonEmpty, "fixture must produce natural collisions")
    TextKit.releaseCaches()
  }

  // ---- search ----

  test("search ranks by integer tf-idf, ties by doc id") {
    val docs = Seq(
      (0L, "table table table join other words"),
      (1L, "join join fast filler filler filler"),
      (2L, "nothing relevant at all in here six"),
      (3L, "fast fast fast fast fast fast fast"))
      .toDF("doc_id", "text")
    // df: table=1, join=2, fast=2; N=4 -> idf: table 4, join 2, fast 2
    val r = TextAnalysis.search(docs, Seq("table", "join", "fast"), k = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    // scores: d0 = 3*4 + 1*2 = 14; d1 = 2*2 + 1*2 = 6; d3 = 7*2 = 14
    assert(r.toSeq == Seq((0L, 14L, 2L), (3L, 14L, 1L), (1L, 6L, 2L)))
    TextKit.releaseCaches()
  }

  test("hybrid search fuses keyword and vector ranks by RRF") {
    val docs = Seq(
      (0L, "table table table join other words"),
      (1L, "join join fast filler filler filler"),
      (2L, "nothing relevant at all in here six"),
      (3L, "fast fast fast fast fast fast fast"))
      .toDF("doc_id", "text")
    val emb = Seq(
      (0L, Array(1f, 0f), 0), (1L, Array(1f, 0f), 0),
      (2L, Array(0f, 1f), 0), (3L, Array(-1f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.hybridSearch(docs, emb, Seq("table", "join", "fast"))
      .collect().map(x => (x.getLong(0), x.getDouble(3)))
    // kw ranks: d0=1, d3=2, d1=3 (score ties break by id; d2 absent)
    // vec ranks vs v0: d1=1 (cos 1), d2=2 (cos 0), d3=3 (cos -1)
    val expect = Seq(
      1L -> (1.0 / 63 + 1.0 / 61), 3L -> (1.0 / 62 + 1.0 / 63),
      0L -> 1.0 / 61, 2L -> 1.0 / 62)
    assert(r.toSeq == expect)
    TextKit.releaseCaches()
  }

  test("every curation operator is total on empty and single-doc corpora") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val one = Seq((7L, "just one single document here")).toDF("doc_id", "text")
    val emptyFull = empty
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", lit(0L))
    val oneFull = one
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    for (docs <- Seq(empty, one)) {
      assert(TextAnalysis.heavyHitters(docs, phi = 20L, k = 40).count() >= 0)
      assert(Dedup.lineDedup(docs).count() == docs.count())
      assert(Dedup.sharedSubstringPairs(docs).count() == 0)
      assert(Export.chunkDocuments(docs).count() == docs.count())
      assert(Export.packSequences(docs).count() == docs.count())
      assert(TextAnalysis.repetition(docs).count() == docs.count())
      assert(Dedup.signaturesLocal(docs).count() <= docs.count())
    }
    for (docs <- Seq(emptyFull, oneFull)) {
      assert(TextAnalysis.unigramScore(docs).count() == docs.count())
      assert(Curation.curate(docs).count() >= 0)
      assert(Export.shardSummary(docs, "doc_id", 4).count() <= docs.count())
      assert(TextAnalysis.search(docs, Seq("single")).count() <= docs.count())
      assert(Dedup.contamination(docs, docs
        .select(col("doc_id").as("bench_id"), col("text"))).count() >= 0)
    }
    // empty blocklist AND empty big side
    assert(Bloom.rejectFilter(empty.select(col("doc_id").as("id")), "id",
      empty.select(col("doc_id").as("id")), "id").count() == 0)
    // round-5 ops: bm25 (empty corpus => empty result, not an NPE on the
    // null token sum), both mixing forms
    for (docs <- Seq(emptyFull, oneFull)) {
      assert(TextAnalysis.bm25Search(docs, Seq("single")).count() <=
        docs.count())
      assert(TextAnalysis.tokenBudgetMix(docs, Map.empty).count() ==
        docs.count())
      assert(TextAnalysis.tokenRateMix(docs, Map.empty).count() ==
        docs.count())
    }
    // embedding-side ops on empty and single-vector corpora
    val emptyEmb = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    val oneEmb = Seq((0L, Array.tabulate(64)(_.toFloat / 64f), 0))
      .toDF("vec_id", "embedding", "label")
    for (emb <- Seq(emptyEmb, oneEmb)) {
      assert(Similarity.semanticDedup(emb, nCells = 2).count() == emb.count())
      assert(Similarity.pqTopK(emb, nQueries = 2, k = 3).count() == 0)
      assert(Similarity.pqTopK(emb, nQueries = 2, k = 3,
        trainIters = 1).count() == 0)
      assert(Similarity.ivfPqTopK(emb, nQueries = 2, k = 3,
        nCells = 2).count() == 0)
    }
    // external-query search with an empty fresh batch over a 1-row index
    val oneIx = Similarity.buildIvfPq(oneEmb, nCells = 2)
    assert(Similarity.searchIvfPqWith(oneIx, emptyEmb).count() == 0)
    TextKit.releaseCaches()
  }

  // ---- repetition ----

  test("repetition metrics match hand computation") {
    val docs = Seq((0L, "a a a b"), (1L, "x y")).toDF("doc_id", "text")
    val r = TextAnalysis.repetition(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(0L).getAs[Long]("n_tokens") == 4L)
    assert(r(0L).getAs[Long]("max_token_tf") == 3L)
    assert(r(0L).getAs[Double]("top_token_ratio") == 0.75)
    // bigrams: "a a", "a a", "a b" -> 3 total, 2 distinct
    assert(r(0L).getAs[Long]("n_bigrams") == 3L)
    assert(r(0L).getAs[Long]("n_distinct_bigrams") == 2L)
    assert(r(0L).getAs[Double]("dup_bigram_ratio") == 1.0 / 3.0)
    assert(r(1L).getAs[Long]("n_bigrams") == 1L)
    assert(r(1L).getAs[Double]("dup_bigram_ratio") == 0.0)
  }

  test("curateCrawl: both gates are selective, manifest accounts for survivors") {
    val fdocs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val pages = TextAnalysis.htmlFromDocuments(fdocs)
    val manifest = Curation.curateCrawl(pages).collect()
    val nDocs = manifest.map(_.getAs[Long]("n_docs")).sum
    val nTotal = fdocs.count()
    assert(nDocs > 0, "the pipeline must keep some documents")
    assert(nDocs < nTotal, "the gates must actually drop documents")
    assert(manifest.forall(_.getAs[Long]("sum_chars") > 0L))
    assert(manifest.map(_.getAs[Long]("shard")).distinct.length ==
      manifest.length)
    // loosening both gates to no-ops keeps strictly more documents
    val open = Curation.curateCrawl(pages, maxBoilerPermille = 1000,
      minFluencyPpm = 0).collect().map(_.getAs[Long]("n_docs")).sum
    assert(open > nDocs)
    TextKit.releaseCaches()
  }
}
