package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling evidence for the dedup family: replicate the sf corpus k times
  * and measure the minhash+LSH chain (and its connected-components
  * consumer) at 1x vs kx. Two corpus shapes:
  *
  *  - "clean": each replica's text gets a replica tag appended, so
  *    replicas are NOT near-dups of each other — candidate pairs grow
  *    ~linearly and the chain should scale near-linearly in corpus size;
  *  - "adversarial": byte-identical replicas, so EVERY document sits in a
  *    k-way duplicate cluster — the shape the band-bucket caps and the
  *    size-gated verify join exist for; super-linear pair growth is
  *    expected (pairs ~ k^2 per cluster) but bounded by the caps.
  *
  * Usage: runMain graft.ScaleSmoke [sfDir] [k] [section]. Prints one
  * JSON line per measurement; not part of the driver contract (Bench
  * stays the graded artifact). `section` (dedup|ann|recall|skew)
  * restricts to one experiment family. */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 8
    val only: Option[String] = if (args.length > 2) Some(args(2)) else None
    def enabled(section: String): Boolean = only.forall(_ == section)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).cache()
    val n = base.count()

    // perturb=true prefixes EVERY token with the replica id, making the
    // replicas' shingle spaces disjoint (true near-dup-free growth: a
    // weaker perturbation — appending a tag — leaves replicas at ~0.93
    // Jaccard and the corpus becomes all k-way clusters)
    def replicate(times: Int, perturb: Boolean): DataFrame =
      base.withColumn("r", explode(sequence(lit(0), lit(times - 1))))
        .select((col("doc_id") * times + col("r")).as("doc_id"),
          (if (perturb)
            array_join(transform(split(col("text"), " "),
              t => concat(lit("r"), col("r"), t)), " ")
           else col("text")).as("text"))

    def time(label: String, docs: DataFrame, rows: Long): Unit = {
      val t0 = System.nanoTime()
      // persisted BEFORE the count so the CC window measures CC alone —
      // an unpersisted pair frame would re-run the whole verify pipeline
      // inside the t1 window and charge it to cc_sec
      val pairs = graft.ops.Dedup.minhashLshPairs(docs).persist()
      val nPairs = pairs.count()
      val tPairs = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val nComp = graft.ops.Components.connectedComponents(
        pairs.select(col("doc_a"), col("doc_b"))).count()
      val tComp = (System.nanoTime() - t1) / 1e9
      spark.catalog.clearCache()
      base.cache(); base.count()
      println(f"""{"experiment":"$label","rows":$rows,"pairs":$nPairs,""" +
        f""""labeled":$nComp,"pairs_sec":$tPairs%.2f,"cc_sec":$tComp%.2f}""")
    }

    if (enabled("dedup")) {
      // JIT/codegen warm-up so base_1x doesn't carry first-call cost
      graft.ops.Dedup.minhashLshPairs(replicate(1, perturb = true).limit(200)).count()
      spark.catalog.clearCache(); base.cache(); base.count()

      time("base_1x", replicate(1, perturb = true), n)
      time(s"clean_${k}x", replicate(k, perturb = true), n * k)
      time(s"adversarial_${k}x", replicate(k, perturb = false), n * k)
    }

    // ANN / semantic-dedup scaling: replicate the embeddings with a
    // per-replica perturbation (distinct after 1e7 quantization), and
    // grow nCells WITH the corpus — the SemDeDup/IVF contract is that
    // per-cell work stays bounded while centroid state stays tiny.
    val embBase = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).cache()
    val ne = embBase.count()
    def embRep(times: Int): DataFrame =
      embBase.withColumn("r", explode(sequence(lit(0), lit(times - 1))))
        .select((col("vec_id") * times + col("r")).as("vec_id"),
          transform(col("embedding"),
            x => x + col("r") * lit(1e-4)).as("embedding"))
    def timeAnn(label: String, times: Int, cells: Int): Unit = {
      val emb = embRep(times)
      val t0 = System.nanoTime()
      val ix = graft.ops.Similarity
        .buildIvfPq(emb, nCells = cells, trainSampleMod = 4)
      val nTop = graft.ops.Similarity.searchIvfPq(ix).count()
      val tIvfpq = (System.nanoTime() - t0) / 1e9
      // search-many amortization: a second query batch against the
      // prebuilt index pays no training/encoding
      val t2 = System.nanoTime()
      graft.ops.Similarity.searchIvfPq(ix, nQueries = 20).count()
      val tSearch = (System.nanoTime() - t2) / 1e9
      graft.ops.TextKit.releaseCaches()
      val t1 = System.nanoTime()
      val nSem = graft.ops.Similarity
        .semanticDedup(emb, nCells = cells, trainSampleMod = 4).count()
      val tSem = (System.nanoTime() - t1) / 1e9
      graft.ops.TextKit.releaseCaches()
      spark.catalog.clearCache()
      // only the embedding base is read again after this point
      embBase.cache(); embBase.count()
      println(f"""{"experiment":"$label","rows":${ne * times},""" +
        f""""cells":$cells,"topk":$nTop,"semdedup":$nSem,""" +
        f""""ivfpq_sec":$tIvfpq%.2f,"search_sec":$tSearch%.2f,""" +
        f""""semdedup_sec":$tSem%.2f}""")
    }
    if (enabled("ann")) {
      timeAnn("ann_1x", 1, 8)
      timeAnn(s"ann_${k}x", k, 8 * k)
    }

    // retrieval QUALITY at scale: recall@10 of the compressed searches
    // against the exact scan — raw ADC vs the exact-rerank lever — at 1x
    // and kx. The claim under test: recall holds (or rises, since nCells
    // tracks the corpus while nprobe stays fixed at the same fraction
    // only if raised; here we keep nprobe=2 and report honestly) as the
    // corpus grows, and the rerank lever stays worth its bounded cost.
    def timeRecall(label: String, times: Int, cells: Int): Unit = {
      val emb = embRep(times)
      val exact = graft.ops.Similarity
        .bruteTopK(emb, nQueries = 10, k = 10).cache()
      exact.count()
      val ix = graft.ops.Similarity
        .buildIvfPq(emb, nCells = cells, trainSampleMod = 4)
      val raw = graft.ops.Similarity.meanRecall(
        graft.ops.Similarity.searchIvfPq(ix, nQueries = 10, k = 10), exact)
      val t0 = System.nanoTime()
      val rr = graft.ops.Similarity.meanRecall(
        graft.ops.Similarity.searchIvfPq(ix, nQueries = 10, k = 10,
          rerank = 100), exact)
      val tRr = (System.nanoTime() - t0) / 1e9
      val lsh = graft.ops.Similarity.meanRecall(
        graft.ops.Similarity.lshTopK(emb, nQueries = 10, k = 10,
          tables = 8), exact)
      exact.unpersist()
      graft.ops.TextKit.releaseCaches()
      spark.catalog.clearCache()
      embBase.cache(); embBase.count()
      println(f"""{"experiment":"$label","rows":${ne * times},""" +
        f""""cells":$cells,"recall_ivfpq_adc":$raw%.3f,""" +
        f""""recall_ivfpq_rerank100":$rr%.3f,"recall_lsh8":$lsh%.3f,""" +
        f""""rerank_search_sec":$tRr%.2f}""")
    }
    if (enabled("recall")) {
      timeRecall("recall_1x", 1, 8)
      timeRecall(s"recall_${k}x", k, 8 * k)
    }

    // CODEBOOK-TRAINING scaling: the round-8 `cbSampleMod` claim. Coarse
    // training is pinned flat (trainSampleMod grows with the corpus, so
    // Lloyd always sees ~the same row count) to isolate the PQ-codebook
    // term: with cbSampleMod=1 the two refinement iterations scan every
    // (vector, subspace) row and the train window grows with the corpus;
    // with cbSampleMod=k they scan the 1/k hash-sample and the window
    // stays near the 1x cost. Encode (the once-per-corpus-version pass)
    // grows linearly in BOTH — that pass is the contract, training is
    // not. train_sec covers the driver-side k-means + Lloyd collects
    // inside buildIvfPq; encode_sec forces the lazy encoded relation.
    def timeCb(label: String, times: Int, cells: Int, mod: Int,
        silent: Boolean = false): Unit = {
      val emb = embRep(times)
      val t0 = System.nanoTime()
      val ix = graft.ops.Similarity.buildIvfPq(emb, nCells = cells,
        trainIters = 2, trainSampleMod = 4 * times, cbTrainIters = 2,
        cbSampleMod = mod)
      val tTrain = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val nEnc = ix.encoded.count()
      val tEnc = (System.nanoTime() - t1) / 1e9
      graft.ops.TextKit.releaseCaches()
      spark.catalog.clearCache()
      embBase.cache(); embBase.count()
      if (!silent)
        println(f"""{"experiment":"$label","rows":${ne * times},""" +
          f""""cells":$cells,"cb_sample_mod":$mod,"encoded":$nEnc,""" +
          f""""train_sec":$tTrain%.2f,"encode_sec":$tEnc%.2f}""")
    }
    if (enabled("cbtrain")) {
      // discarded warm-up: the first build pays codegen/JIT for the
      // whole k-means + Lloyd chain and would masquerade as 1x cost
      timeCb("warmup", 1, 8, 1, silent = true)
      timeCb("cbtrain_full_1x", 1, 8, 1)
      timeCb(s"cbtrain_full_${k}x", k, 8 * k, 1)
      timeCb(s"cbtrain_sampled_${k}x", k, 8 * k, k)
    }

    // SKEWED-corpus evidence: ~25% of all rows land on ONE join key
    // (~130x a normal key) and fan out 64-way through a sort-merge join.
    // Same query twice: with AQE's runtime skew split vs with the split
    // disabled (the unsplit plan serializes the hot partition through
    // one reducer). Thresholds lowered exactly like PlanSpec's pin so
    // the toy corpus trips the split a 100 TB hot key trips at defaults.
    def timeSkew(label: String, times: Int): Unit = {
      val confs = Seq(
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "128KB")
      val prev = confs.map { case (c, _) => c -> spark.conf.getOption(c) }
      confs.foreach { case (c, v) => spark.conf.set(c, v) }
      try {
        // ~90% of all rows on ONE key (PlanSpec's q39-amplified shape).
        // AQE splits a skewed partition by upstream MAP-BLOCK ranges, so
        // the split granularity is bounded by the mapper count — 64 here
        // stands in for the thousands a real cluster's scan stage has
        // (the cached toy base would otherwise produce a handful).
        val skewed = replicate(times, perturb = true)
          .select(col("doc_id"), col("text"),
            when(col("doc_id") % 10 < 9, lit(0L))
              .otherwise(pmod(col("doc_id"), lit(397L))).as("key"))
          .repartition(64)
        val dim = spark.range(397).select(col("id").as("key"),
          explode(sequence(lit(0), lit(127))).as("slot"))
        def run(split: Boolean): (Double, Long) = {
          spark.conf.set("spark.sql.adaptive.skewJoin.enabled", split.toString)
          val t0 = System.nanoTime()
          // per-joined-row md5 makes the hot partition's cost REAL: the
          // unsplit plan funnels every hot-key row through one reducer's
          // join+hash+aggregate pipeline; the split spreads exactly that
          val r = graft.ops.Skew.aqeSkewJoin(skewed, dim, Seq("key"))
            .agg(sum(length(md5(concat(col("text"),
              col("slot").cast("string"))))).as("s"),
              count(lit(1)).as("joined"))
            .head
          ((System.nanoTime() - t0) / 1e9, r.getLong(1))
        }
        run(split = true) // JIT/codegen warm-up, untimed
        val (tSplit, n1) = run(split = true)
        val (tUnsplit, n2) = run(split = false)
        require(n1 == n2, s"skew split changed the answer: $n1 vs $n2")
        println(f"""{"experiment":"$label","rows":${n * times},""" +
          f""""joined":$n1,"split_sec":$tSplit%.2f,""" +
          f""""unsplit_sec":$tUnsplit%.2f}""")
      } finally {
        prev.foreach {
          case (c, Some(v)) => spark.conf.set(c, v)
          case (c, None) => spark.conf.unset(c)
        }
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      }
    }
    if (enabled("skew")) {
      timeSkew("skew_1x", 1)
      timeSkew(s"skew_${k}x", k)
    }

    // semantic clustering at scale: the mutual-kNN graph + CC chain with
    // nCells tracking the corpus — per-cell candidate work stays bounded,
    // so the kNN stage scales like the corpus and CC like the cluster
    // diameter (log rounds), never all-pairs
    if (enabled("cluster")) {
      def timeCluster(label: String, times: Int, cells: Int): Unit = {
        val emb = embRep(times)
        val t0 = System.nanoTime()
        val n = graft.ops.Similarity
          .semanticClusters(emb, nCells = cells).count()
        val t = (System.nanoTime() - t0) / 1e9
        graft.ops.TextKit.releaseCaches()
        spark.catalog.clearCache()
        embBase.cache(); embBase.count()
        println(f"""{"experiment":"$label","rows":${ne * times},""" +
          f""""cells":$cells,"labeled":$n,"cluster_sec":$t%.2f}""")
      }
      timeCluster("cluster_1x", 1, 8)
      timeCluster(s"cluster_${k}x", k, 8 * k)
    }

    // BATCHED hybrid retrieval: 16 queries fused in ONE corpus pass vs
    // 16 sequential single-query hybridSearch calls on the same corpus.
    // The claim: the batch pays the corpus scans once (postings filter,
    // vector stream), so wall time per query collapses as the batch
    // grows — the production reason hybridSearchBatch exists.
    if (enabled("hybrid")) {
      import org.apache.spark.sql.DataFrame
      val docsAll = spark.read.parquet(s"$sfDir/documents.parquet")
      val embAll = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val termPool = Seq("table", "join", "fast", "scan", "merge", "sort",
        "stream", "window", "hash", "filter", "group", "order", "key",
        "row", "batch", "vector")
      val nQ = 16
      val qs = {
        import spark.implicits._
        (0 until nQ).map(i =>
          (i.toLong, Seq(termPool(i), termPool((i + 3) % 16)), i.toLong))
          .toDF("query_id", "terms", "qvec_id")
      }
      // warm-up (JIT + parquet footers)
      graft.ops.Similarity.hybridSearchBatch(docsAll, embAll, qs.limit(1)).count()
      val t0 = System.nanoTime()
      val nBatch = graft.ops.Similarity
        .hybridSearchBatch(docsAll, embAll, qs).count()
      val tBatch = (System.nanoTime() - t0) / 1e9
      graft.ops.TextKit.releaseCaches()
      val t1 = System.nanoTime()
      var nSeq = 0L
      for (i <- 0 until nQ) {
        nSeq += graft.ops.Similarity.hybridSearch(docsAll, embAll,
          Seq(termPool(i), termPool((i + 3) % 16)), queryVecId = i.toLong)
          .count()
        graft.ops.TextKit.releaseCaches()
      }
      val tSeq = (System.nanoTime() - t1) / 1e9
      println(f"""{"experiment":"hybrid_batch","queries":$nQ,""" +
        f""""batch_rows":$nBatch,"seq_rows":$nSeq,""" +
        f""""batch_sec":$tBatch%.2f,"sequential_sec":$tSeq%.2f}""")
    }
    // PRETRAIN-RECIPE scaling: the q121 five-stage composition at 1x vs
    // kx on a perturbed corpus (per-replica token prefixes keep replicas
    // distinct through normalize + dedup, so survivor counts scale too).
    // The cap scales with the corpus (constant kept FRACTION), mirroring
    // how a per-domain cap is tuned in production. The claim: wall time
    // tracks corpus size (model aggregation + four keyed shuffles), no
    // quadratic stage anywhere in the chain.
    if (enabled("recipe")) {
      def docsRep(times: Int): DataFrame =
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("text"), col("source"))
          .withColumn("r", explode(sequence(lit(0), lit(times - 1))))
          .select((col("doc_id") * times + col("r")).as("doc_id"),
            array_join(transform(split(col("text"), " "),
              t => concat(lit("r"), col("r"), t)), " ").as("text"),
            col("source"))
      def timeRecipe(label: String, times: Int,
          silent: Boolean = false): Unit = {
        val t0 = System.nanoTime()
        val groups = graft.ops.Curation
          .pretrainRecipe(docsRep(times), perSourceCap = 15 * times)
          .count()
        val sec = (System.nanoTime() - t0) / 1e9
        graft.ops.TextKit.releaseCaches()
        spark.catalog.clearCache()
        if (!silent)
          println(f"""{"experiment":"$label","rows":${n * times},""" +
            f""""cap":${15 * times},"manifest_groups":$groups,""" +
            f""""recipe_sec":$sec%.2f}""")
      }
      timeRecipe("warmup", 1, silent = true)
      timeRecipe("recipe_1x", 1)
      timeRecipe(s"recipe_${k}x", k)
    }
    // BPE tokenizer training: byte-identical replicas keep the
    // VOCABULARY constant while the corpus grows kx — the claim that
    // makes word-table BPE the 100 TB shape: only the initial
    // word-frequency pass scales with the corpus; the merge loop runs
    // over the (constant-size) word table, so train time should move
    // far less than kx. Encode is corpus-proportional by design
    // (dictionary join), reported separately.
    if (enabled("bpe")) {
      def timeBpe(label: String, times: Int,
          silent: Boolean = false): Unit = {
        val docs = replicate(times, perturb = false)
        val t0 = System.nanoTime()
        val (merges, _) = graft.ops.Bpe.train(docs)
        val tTrain = (System.nanoTime() - t0) / 1e9
        graft.ops.TextKit.releaseCaches()
        val t1 = System.nanoTime()
        val nDocs = graft.ops.Bpe.tokenCounts(docs).count()
        val tEnc = (System.nanoTime() - t1) / 1e9
        graft.ops.TextKit.releaseCaches()
        spark.catalog.clearCache(); base.cache(); base.count()
        if (!silent)
          println(f"""{"experiment":"$label","rows":${n * times},""" +
            f""""merges":${merges.size},"docs":$nDocs,""" +
            f""""train_sec":$tTrain%.2f,"encode_sec":$tEnc%.2f}""")
      }
      timeBpe("warmup", 1, silent = true)
      timeBpe("bpe_1x", 1)
      timeBpe(s"bpe_${k}x", k)
    }
    // Incremental IVF-PQ maintenance: appending a fresh 1/k batch to a
    // prebuilt index vs rebuilding the whole index with the batch
    // included. The claim behind appendIvfPq: ingest cost is
    // proportional to the BATCH (assign + encode against broadcast
    // frozen state), while the rebuild pays training + full-corpus
    // encode again — the gap that makes add-without-retrain the
    // production ingest path.
    if (enabled("append")) {
      val corpus = embRep(k)
      val baseSide = corpus.filter(col("vec_id") % k =!= 0)
      val batch = corpus.filter(col("vec_id") % k === 0)
      def buildOn(df: DataFrame) = graft.ops.Similarity
        .buildIvfPq(df, nCells = 8 * k, trainSampleMod = 4)
      // warm-up + the prebuilt index the append path starts from
      val ix = buildOn(baseSide)
      graft.ops.Similarity.searchIvfPq(ix).count()
      val t0 = System.nanoTime()
      val grown = graft.ops.Similarity.appendIvfPq(ix, batch)
      val nA = graft.ops.Similarity.searchIvfPq(grown).count()
      val tAppend = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val nR = graft.ops.Similarity.searchIvfPq(buildOn(corpus)).count()
      val tRebuild = (System.nanoTime() - t1) / 1e9
      graft.ops.TextKit.releaseCaches()
      spark.catalog.clearCache()
      println(f"""{"experiment":"append_${k}x","rows":${ne * k},""" +
        f""""batch_rows":${ne},"append_topk":$nA,"rebuild_topk":$nR,""" +
        f""""append_sec":$tAppend%.2f,"rebuild_sec":$tRebuild%.2f}""")
    }
    // Learned quality classifier: one training aggregation + one scoring
    // pass, both corpus-linear with a bucket-bounded (4096-row) model —
    // wall time should track corpus size, never the vocabulary.
    if (enabled("classifier")) {
      def timeCls(label: String, times: Int,
          silent: Boolean = false): Unit = {
        val docs = replicate(times, perturb = false)
        val t0 = System.nanoTime()
        val nRows = graft.ops.Classifier
          .qualityScore(docs, col("doc_id") % 2 === 0).count()
        val sec = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache(); base.cache(); base.count()
        if (!silent)
          println(f"""{"experiment":"$label","rows":${n * times},""" +
            f""""scored":$nRows,"classify_sec":$sec%.2f}""")
      }
      timeCls("warmup", 1, silent = true)
      timeCls("classifier_1x", 1)
      timeCls(s"classifier_${k}x", k)
    }
    // Mergeable sketches (HLL cardinality + histogram quantiles +
    // Count-Min frequency): one corpus-linear scan each into a
    // FIXED-SIZE register table — wall time tracks rows, register
    // counts must NOT grow with the corpus (that boundedness is the
    // whole 100 TB story for sketch state).
    if (enabled("sketch")) {
      import graft.ops.Sketches
      def timeSketch(label: String, times: Int,
          silent: Boolean = false): Unit = {
        val docs = replicate(times, perturb = false)
        val t0 = System.nanoTime()
        val hllRegs = Sketches.hllRegisters(docs, lit("all"), col("text"))
          .persist()
        val nHll = hllRegs.count()
        val histRegs = Sketches.histRegisters(docs, lit("all"),
          length(col("text")), binWidth = 16L).persist()
        val nHist = histRegs.count()
        val cmsRegs = Sketches.cmsRegisters(docs, col("doc_id") % 997)
          .persist()
        val nCms = cmsRegs.count()
        val folds = Sketches.hllEstimate(hllRegs).count() +
          Sketches.histQuantiles(histRegs, 16L).count() +
          Sketches.cmsEstimate(cmsRegs, spark.range(0, 20)
            .select(col("id").as("probe"))).count()
        val sec = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache(); base.cache(); base.count()
        if (!silent)
          println(f"""{"experiment":"$label","rows":${n * times},""" +
            f""""hll_regs":$nHll,"hist_regs":$nHist,"cms_regs":$nCms,""" +
            f""""fold_rows":$folds,"sketch_sec":$sec%.2f}""")
      }
      timeSketch("warmup", 1, silent = true)
      timeSketch("sketch_1x", 1)
      timeSketch(s"sketch_${k}x", k)
    }

    // Z-order layout: the claim is that the file-skip FRACTION for a
    // second-dimension box predicate is scale-invariant — more data means
    // more files, but a y-box still touches ~the same share of them under
    // Z-order and ALL of them under a linear x-sort.
    lazy val liBase = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
    def liRep(times: Int): DataFrame =
      liBase.withColumn("rr", explode(sequence(lit(0), lit(times - 1))))
        .select((col("l_orderkey") * times + col("rr")).as("k"),
          col("l_partkey").as("x"), col("l_suppkey").as("y"),
          col("l_quantity").as("q"))
    if (enabled("layout")) {
      import graft.ops.Layout
      def timeLayout(label: String, times: Int): Unit = {
        val df = liRep(times)
        val b = df.agg(min("x"), max("x"), min("y"), max("y"),
          count(lit(1))).head
        val (xlo, xhi, ylo, yhi) =
          (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
        val dir = java.nio.file.Files
          .createTempDirectory("smoke_layout").toString
        val nFiles = 64
        val t0 = System.nanoTime()
        Layout.writeZOrdered(df, Layout.quantize(col("x"), xlo, xhi, 8),
          Layout.quantize(col("y"), ylo, yhi, 8), 8, s"$dir/z", nFiles)
        val tz = (System.nanoTime() - t0) / 1e9
        Layout.writeLinear(df, col("x"), s"$dir/lin", nFiles)
        // y-only box: first eighth of the y domain
        val box = Map("y" -> (ylo, ylo + (yhi - ylo + 1) / 8 - 1))
        val zTouch = Layout.prunedFiles(
          Layout.fileColumnStats(spark, s"$dir/z", Seq("x", "y")), box).size
        val lTouch = Layout.prunedFiles(
          Layout.fileColumnStats(spark, s"$dir/lin", Seq("x", "y")), box).size
        println(f"""{"experiment":"$label","rows":${b.getLong(4)},""" +
          f""""files":$nFiles,"z_touched":$zTouch,""" +
          f""""linear_touched":$lTouch,"zwrite_sec":$tz%.2f}""")
      }
      timeLayout("layout_1x", 1)
      timeLayout(s"layout_${k}x", k)
    }

    // Winnowing containment: corpus fingerprints + batch join. With
    // perturbed replicas (disjoint token spaces) the fingerprint volume
    // grows linearly and the df-capped join must track it — no
    // quadratic blowup from the shared-hash fan-out.
    if (enabled("winnow")) {
      def timeWinnow(label: String, times: Int,
          silent: Boolean = false): Unit = {
        val all = replicate(times, perturb = true)
        val corpus = all.filter(col("doc_id") % 10 =!= 0)
        val batch = all.filter(col("doc_id") % 10 === 0)
        val t0 = System.nanoTime()
        val out = graft.ops.TextAnalysis
          .winnowContainment(corpus, batch).count()
        val sec = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache(); base.cache(); base.count()
        if (!silent)
          println(f"""{"experiment":"$label","rows":${n * times},""" +
            f""""containment_pairs":$out,"winnow_sec":$sec%.2f}""")
      }
      timeWinnow("warmup", 1, silent = true)
      timeWinnow("winnow_1x", 1)
      timeWinnow(s"winnow_${k}x", k)
    }

    // CDC apply: with a FIXED batch, the broadcast-MERGE path's cost
    // tracks the target scan (narrow) — the shuffle fallback pays a wide
    // exchange of the whole target and falls behind as the target grows.
    if (enabled("cdc")) {
      import graft.ops.Cdc
      def timeCdc(label: String, times: Int, bcast: Boolean,
          silent: Boolean = false): Unit = {
        val target = liRep(times)
        // fixed-size batch: ~1/500 of the 1x keys, half deletes
        val changes = liRep(1).filter(col("k") % 500 === 0)
          .select(col("k"), lit(1L).as("v"),
            when(col("k") % 1000 === 0, "D").otherwise("U").as("op"),
            (col("x") + 1).as("x"), col("y"), (col("q") * 2).as("q"))
        val t0 = System.nanoTime()
        val out = Cdc.applyChanges(target, changes, "k", "v",
          broadcastBatch = bcast).count()
        val sec = (System.nanoTime() - t0) / 1e9
        if (!silent)
          println(f"""{"experiment":"$label","target_rows":${target.count()},""" +
            f""""merged_rows":$out,"cdc_sec":$sec%.2f}""")
      }
      timeCdc("warmup", 1, bcast = true, silent = true)
      timeCdc("cdc_broadcast_1x", 1, bcast = true)
      timeCdc(s"cdc_broadcast_${k}x", k, bcast = true)
      timeCdc(s"cdc_shuffle_${k}x", k, bcast = false)
    }

    // Deletion vectors vs copy-on-write rewrite: a FIXED logical delete
    // (the keys below base-max/16 — the same ~n/16 rows at every scale,
    // all inside file 1 of the k-ordered 16-file layout) against a table
    // whose FILES grow kx. The rewrite's cost is write amplification —
    // re-materializing every surviving full-width row of the touched
    // file, so it tracks file bytes — while the DV path scans one
    // key column for positions and writes O(deleted rows): dv_sec must
    // stay FLAT while rewrite_sec grows with the touched file.
    // dvread_sec records the merge-on-read read (a full scan either
    // way, plus one broadcast anti-join of the sidecar union).
    if (enabled("dv")) {
      import graft.lake.{GraftFileIndex, ManifestCommit}
      import org.apache.hadoop.fs.Path
      val hiFixed = liRep(1).agg(max("k")).head.getLong(0) / 16
      def timeDv(label: String, times: Int,
          silent: Boolean = false): Unit = {
        val df = liRep(times)
        val root = java.nio.file.Files
          .createTempDirectory("smoke_dv").toString
        graft.ops.Layout.writeLinear(df, col("k"), s"$root/dv", 16)
        graft.ops.Layout.writeLinear(df, col("k"), s"$root/rw", 16)
        val (dvDir, rwDir) = (new Path(s"$root/dv"), new Path(s"$root/rw"))
        val fs = dvDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        Seq(dvDir, rwDir).foreach { d =>
          ManifestCommit.bootstrap(fs, d)
          ManifestCommit.recordStats(spark, d, Seq("k"))
        }
        val t0 = System.nanoTime()
        val (_, nDel) = ManifestCommit.deleteWhereDV(spark, dvDir, "k",
          0L, hiFixed)
        val dvSec = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        ManifestCommit.deleteRange(spark, rwDir, "k", 0L, hiFixed, Seq("k"))
        val rwSec = (System.nanoTime() - t1) / 1e9
        val t2 = System.nanoTime()
        val dvRows = GraftFileIndex.table(spark, dvDir.toString).count()
        val readSec = (System.nanoTime() - t2) / 1e9
        require(dvRows == GraftFileIndex.table(spark, rwDir.toString).count(),
          "dv and rewrite must agree")
        if (!silent)
          println(f"""{"experiment":"$label","rows":${df.count()},""" +
            f""""deleted":$nDel,"dv_sec":$dvSec%.2f,""" +
            f""""rewrite_sec":$rwSec%.2f,"dvread_sec":$readSec%.2f}""")
      }
      timeDv("warmup", 1, silent = true)
      timeDv("dv_1x", 1)
      timeDv(s"dv_${k}x", k)
    }
    // Compaction UNDER deletion vectors (the round-10 compactor): the
    // merge subtracts the active sidecars (broadcast anti-join on the
    // O(deleted) position set) and drops them at commit. Claim under
    // test: the DV-subtracting rewrite costs the clean rewrite plus a
    // margin that tracks DELETED ROWS (fixed 1/512 key slice here, so
    // the margin stays a small constant fraction at every scale) —
    // never a second table-sized term.
    if (enabled("dvcompact")) {
      import graft.lake.{Compaction, GraftFileIndex, ManifestCommit}
      import org.apache.hadoop.fs.Path
      def timeDvc(label: String, times: Int,
          silent: Boolean = false): Unit = {
        val df = liRep(times)
        val bb = df.agg(min("k"), max("k")).head
        val (klo, khi) = (bb.getLong(0), bb.getLong(1))
        val root = java.nio.file.Files
          .createTempDirectory("smoke_dvc").toString
        graft.ops.Layout.writeLinear(df, col("k"), s"$root/dv", 32)
        graft.ops.Layout.writeLinear(df, col("k"), s"$root/cl", 32)
        val (dvDir, clDir) = (new Path(s"$root/dv"), new Path(s"$root/cl"))
        val fs = dvDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        Seq(dvDir, clDir).foreach { d =>
          ManifestCommit.bootstrap(fs, d)
          ManifestCommit.recordStats(spark, d, Seq("k"))
        }
        val (_, nDel) = ManifestCommit.deleteWhereDV(spark, dvDir, "k",
          klo, klo + (khi - klo) / 512)
        val t0 = System.nanoTime()
        Compaction.compactTableManifest(spark, dvDir.toString, maxFiles = 4)
        val dvSec = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        Compaction.compactTableManifest(spark, clDir.toString, maxFiles = 4)
        val clSec = (System.nanoTime() - t1) / 1e9
        require(ManifestCommit.currentDvs(fs, dvDir).isEmpty,
          "compaction must absorb the sidecars")
        require(GraftFileIndex.table(spark, dvDir.toString).count() ==
          GraftFileIndex.table(spark, clDir.toString).count() - nDel,
          "compacted dv table must equal clean minus deleted")
        if (!silent)
          println(f"""{"experiment":"$label","rows":${df.count()},""" +
            f""""deleted":$nDel,"compact_dv_sec":$dvSec%.2f,""" +
            f""""compact_clean_sec":$clSec%.2f}""")
      }
      timeDvc("warmup", 1, silent = true)
      timeDvc("dvcompact_1x", 1)
      timeDvc(s"dvcompact_${k}x", k)
    }
    // CDC apply (the q255 consumer): a FIXED change batch (narrow key
    // slice: replacements + fresh inserts) applied via applyChangesDV
    // to a target that grows k×. Claim under test: apply cost is the
    // stats-pruned position scan of the touched files + O(batch) writes
    // — FLAT as the table grows, never a table-sized term (the whole
    // point of merge-on-read apply vs copy-on-write MERGE).
    if (enabled("cdcapply")) {
      import graft.lake.ManifestCommit
      import org.apache.hadoop.fs.Path
      val bb = liRep(1).agg(min("k"), max("k")).head
      val (klo, khi) = (bb.getLong(0), bb.getLong(1))
      def timeApply(label: String, times: Int,
          silent: Boolean = false): Unit = {
        val df = liRep(times)
        val root = java.nio.file.Files
          .createTempDirectory("smoke_cdcapply").toString
        graft.ops.Layout.writeLinear(df, col("k"), s"$root/t", 32)
        val dir = new Path(s"$root/t")
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        ManifestCommit.bootstrap(fs, dir)
        ManifestCommit.recordStats(spark, dir, Seq("k"))
        // ~fixed-size batch regardless of scale: liRep preserves key
        // DENSITY as it replicates, so a fixed absolute key width cuts
        // ~the same row count at every scale — replace that slice,
        // insert twins far beyond the key space
        val lo = df.agg(min("k")).head.getLong(0) + (khi - klo) / 3
        val hi = lo + (khi - klo) / 512
        val src = df.filter(col("k").between(lo, hi))
        val batch = src.withColumn("q", col("q") + 1)
          .unionByName(src.select((col("k") + 4000000000L).as("k"),
            col("x"), col("y"), (col("q") + 2).as("q")))
        val t0 = System.nanoTime()
        val (touched, nDel) = ManifestCommit.applyChangesDV(spark, dir,
          "k", inserts = batch, deleteKeys = batch.select("k").limit(0),
          statsCols = Seq("k"), txn = Some(("smoke", 0L)))
        val sec = (System.nanoTime() - t0) / 1e9
        require(nDel > 0, "batch must replace rows")
        if (!silent)
          println(f"""{"experiment":"$label","table_rows":${df.count()},""" +
            f""""touched":$touched,"deleted":$nDel,""" +
            f""""apply_sec":$sec%.2f}""")
      }
      timeApply("warmup", 1, silent = true)
      timeApply("cdcapply_1x", 1)
      timeApply(s"cdcapply_${k}x", k)
    }
    // PageRank-over-pairs (the q133 consumer): rank iterations measured
    // over PRE-BUILT persisted pairs so the window isolates the
    // CC + 3 fixed-point iterations from candidate generation (the dedup
    // section already owns that evidence). With perturbed replicas the
    // pair graph grows linearly, and the claim under test is that
    // rank_sec tracks PAIRS — keyed hash joins over the pair relation,
    // one row of rank state per dup-graph node — never corpus².
    if (enabled("pagerank")) {
      def timePr(label: String, times: Int,
          silent: Boolean = false): Unit = {
        val docs = replicate(times, perturb = true)
        val pairs = graft.ops.Dedup.minhashLshPairs(docs)
          .select(col("doc_a"), col("doc_b")).persist()
        val nPairs = pairs.count()
        val t0 = System.nanoTime()
        val members = graft.ops.Centrality.canonicalByRank(pairs).count()
        val sec = (System.nanoTime() - t0) / 1e9
        pairs.unpersist()
        graft.ops.TextKit.releaseCaches()
        spark.catalog.clearCache(); base.cache(); base.count()
        if (!silent)
          println(f"""{"experiment":"$label","rows":${n * times},""" +
            f""""pairs":$nPairs,"members":$members,"rank_sec":$sec%.2f}""")
      }
      timePr("warmup", 1, silent = true)
      timePr("pagerank_1x", 1)
      timePr(s"pagerank_${k}x", k)
    }

    // Manifest change feed (q196): a FIXED-size append batch + a fixed
    // narrow delete against a table that grows kx. The feed reads ONLY
    // the delta files (batch files + the delete's touched files), so
    // feed_sec must stay ~flat; Cdc.snapshotDiff answers the same
    // question by full-outer-joining BOTH complete snapshots, so
    // diff_sec must track the table. Equal change counts cross-check
    // that the cheap answer is the same answer.
    if (enabled("feed")) {
      import graft.lake.{ChangeFeed, ManifestCommit}
      lazy val ordBase = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      def ordRep(times: Int): DataFrame =
        ordBase.withColumn("rr", explode(sequence(lit(0), lit(times - 1))))
          .select((col("o_orderkey") * times + col("rr")).as("k"),
            col("o_custkey").as("c"), col("o_totalprice").as("v"))
      def timeFeed(label: String, times: Int,
          silent: Boolean = false): Unit = {
        val df = ordRep(times)
        val dir = java.nio.file.Files
          .createTempDirectory("smoke_feed").toString + "/tbl"
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        graft.ops.Layout.writeLinear(df, col("k"), dir, 32)
        ManifestCommit.bootstrap(fs, p)
        val cursor = ManifestCommit.recordStats(spark, p, Seq("k")).version
        // fixed-size batch at disjoint keys (same rows at every scale)
        val batch = ordRep(1).filter(col("k") % 500 === 0)
          .select((col("k") + 4000000000L).as("k"), col("c"), col("v"))
        ManifestCommit.stageAndPublish(spark, p, batch, _ => true,
          statsCols = Seq("k")).getOrElse(sys.error("feed smoke publish"))
        // fixed narrow delete: 1/512 of the key span — touches a couple
        // of the 32 stats-clustered files regardless of scale
        val bb = df.agg(min("k"), max("k")).head
        ManifestCommit.deleteRange(spark, p, "k", bb.getLong(0),
          bb.getLong(0) + (bb.getLong(1) - bb.getLong(0)) / 512, Seq("k"))
        val head = ManifestCommit.currentSnapshot(fs, p).get.version
        val t0 = System.nanoTime()
        val nFeed = ChangeFeed.changeFeed(spark, p, cursor, head).count()
        val tFeed = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val nDiff = graft.ops.Cdc.snapshotDiff(
          ManifestCommit.readTableAt(spark, dir, cursor),
          graft.lake.GraftFileIndex.table(spark, dir), "k", Seq("c", "v"))
          .count()
        val tDiff = (System.nanoTime() - t1) / 1e9
        require(nFeed == nDiff,
          s"feed/diff disagree: $nFeed vs $nDiff")
        spark.catalog.clearCache()
        if (!silent)
          println(f"""{"experiment":"$label","table_rows":${df.count()},""" +
            f""""changes":$nFeed,"feed_sec":$tFeed%.2f,""" +
            f""""snapshot_diff_sec":$tDiff%.2f}""")
      }
      timeFeed("warmup", 1, silent = true)
      timeFeed("feed_1x", 1)
      timeFeed(s"feed_${k}x", k)
    }

    // Exact ppjoin (q189): rarest-first prefixes + length/positional
    // filters. Perturbed replicas keep token spaces disjoint, so prefix
    // postings (and true pairs) grow linearly — the claim is that wall
    // time tracks the postings/verify volume, with the df-cap guard
    // keeping any shared-token fan-out bounded.
    if (enabled("ppjoin")) {
      def timePp(label: String, times: Int,
          silent: Boolean = false): Unit = {
        val docs = replicate(times, perturb = true)
        graft.ops.Dedup.instrument = true
        val t0 = System.nanoTime()
        val nPairs = graft.ops.Dedup.prefixFilterPairs(docs).count()
        val sec = (System.nanoTime() - t0) / 1e9
        val nCand = graft.ops.Dedup.lastCandidatePairs
        graft.ops.Dedup.instrument = false
        graft.ops.TextKit.releaseCaches()
        spark.catalog.clearCache(); base.cache(); base.count()
        if (!silent)
          println(f"""{"experiment":"$label","rows":${n * times},""" +
            f""""candidates":$nCand,"pairs":$nPairs,""" +
            f""""ppjoin_sec":$sec%.2f}""")
      }
      timePp("warmup", 1, silent = true)
      timePp("ppjoin_1x", 1)
      timePp(s"ppjoin_${k}x", k)
    }

    // Batched BPE training (q124-q129's trainer) at a production-ish
    // merge count. Two claims the row records: (a) nMerges=64 RUNS at
    // all — the per-merge persist chain OOM'd the driver before the
    // per-pass localCheckpoint (plan/explain strings grew quadratically
    // with merges); (b) passes < merges under the exact batched
    // selector. Passes do NOT approach merges/k on natural text, and
    // measurably cannot: sequential BPE's next merge frequently
    // consumes the previous merge's output symbol ((t,h) then (th,e)),
    // an order no exact batcher may pre-commit — the triple bound
    // detects exactly those cases and stops the pass.
    if (enabled("bpe")) {
      val nMerges = 64
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      graft.ops.Bpe.train(base, nMerges = 8) // warmup (codegen, caches)
      spark.catalog.clearCache(); base.cache(); base.count()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val (merges, _) = graft.ops.Bpe.train(base, nMerges = nMerges)
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1000) // listener bus drains async
      spark.sparkContext.removeSparkListener(listener)
      spark.catalog.clearCache(); base.cache(); base.count()
      println(f"""{"experiment":"bpe_train","rows":$n,""" +
        f""""n_merges":${merges.size},"passes":${graft.ops.Bpe.lastTrainPasses},""" +
        f""""jobs":${jobs.get},"train_sec":$sec%.2f}""")
    }

    // Feed-driven band-index maintenance (q211/q212): a FIXED-size feed
    // (n/500 deletes + n/500 inserts) against an index over a corpus
    // growing kx. Maintenance is two broadcast anti-join passes over the
    // text-free index plus feed-sized shuffles; the rebuild re-shingles
    // and re-hashes the whole head corpus. The claim: maintain_sec stays
    // far under rebuild_sec and moves with the index scan, never with
    // the text volume.
    if (enabled("feedindex")) {
      def timeFi(label: String, times: Int,
          silent: Boolean = false): Unit = {
        val corpus = replicate(times, perturb = true)
        val idx0 = graft.ops.Dedup.bandIndexRaw(corpus).persist()
        idx0.count() // the prebuilt index is not part of either window
        graft.ops.TextKit.releaseCaches() // drop shingle-build scaffolding
        val del = corpus.filter(col("doc_id") % lit(500L * times) === 0)
        val ins = replicate(1, perturb = true)
          .filter(col("doc_id") % 500 === 250)
          .select((col("doc_id") + 4000000000L).as("doc_id"),
            concat(lit("ins "), col("text")).as("text"))
        val nDel = del.count(); val nIns = ins.count()
        val head = corpus
          .join(del.select("doc_id"), Seq("doc_id"), "left_anti")
          .unionByName(ins)
        val t0 = System.nanoTime()
        val nM = graft.ops.Dedup
          .applyFeedToBandIndex(idx0, ins, del, head).count()
        val tM = (System.nanoTime() - t0) / 1e9
        graft.ops.TextKit.releaseCaches()
        val t1 = System.nanoTime()
        val nR = graft.ops.Dedup.bandIndexRaw(head).count()
        val tR = (System.nanoTime() - t1) / 1e9
        require(nM == nR,
          s"maintained/rebuild bucket counts differ: $nM vs $nR")
        idx0.unpersist()
        graft.ops.TextKit.releaseCaches()
        spark.catalog.clearCache(); base.cache(); base.count()
        if (!silent)
          println(f"""{"experiment":"$label","rows":${n * times},""" +
            f""""deletes":$nDel,"inserts":$nIns,"buckets":$nM,""" +
            f""""maintain_sec":$tM%.2f,"rebuild_sec":$tR%.2f}""")
      }
      timeFi("warmup", 1, silent = true)
      timeFi("feedindex_1x", 1)
      timeFi(s"feedindex_${k}x", k)
    }

    // CDC-driven ANN-index maintenance (q214): fixed feed (deletes +
    // inserts), growing corpus. Maintain = broadcast anti-join of the
    // delete ids + frozen-state encode of the insert batch; rebuild =
    // full Lloyd + re-encode of the head. The claim: maintain_sec
    // tracks the FEED, rebuild_sec tracks the corpus.
    if (enabled("feedann")) {
      def timeFa(label: String, times: Int,
          silent: Boolean = false): Unit = {
        val emb = embRep(times)
        val ix0 = graft.ops.Similarity
          .buildIvfPq(emb, nCells = 8, trainSampleMod = 4)
        val pin = Seq(ix0.e, ix0.cent, ix0.codebook, ix0.encoded)
          .map(_.persist())
        pin.foreach(_.count()) // prebuilt index outside both windows
        val del = emb.filter(col("vec_id") % lit(200L * times) === 0)
          .select("vec_id")
        val ins = embRep(1).filter(col("vec_id") % 200 === 100)
          .select((col("vec_id") + 4000000000L).as("vec_id"),
            col("embedding"))
        val nDel = del.count(); val nIns = ins.count()
        val head = emb.join(del, Seq("vec_id"), "left_anti")
          .unionByName(ins)
        val t0 = System.nanoTime()
        val nM = graft.ops.Similarity
          .applyFeedToIvfPq(ix0, ins, del).encoded.count()
        val tM = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val nR = graft.ops.Similarity
          .buildIvfPq(head, nCells = 8, trainSampleMod = 4).encoded.count()
        val tR = (System.nanoTime() - t1) / 1e9
        require(nM == nR,
          s"maintained/rebuilt encoded counts differ: $nM vs $nR")
        pin.foreach(_.unpersist())
        graft.ops.TextKit.releaseCaches()
        spark.catalog.clearCache(); embBase.cache(); embBase.count()
        if (!silent)
          println(f"""{"experiment":"$label","rows":${ne * times},""" +
            f""""deletes":$nDel,"inserts":$nIns,"encoded":$nM,""" +
            f""""maintain_sec":$tM%.2f,"rebuild_sec":$tR%.2f}""")
      }
      timeFa("warmup", 1, silent = true)
      timeFa("feedann_1x", 1)
      timeFa(s"feedann_${k}x", k)
    }

    // Late-interaction (q223/q224): full MaxSim touches every
    // (query chunk, doc chunk) pair and must grow with the corpus x
    // chunks-per-doc; the shortlist composition bounds chunk work at
    // shortlist size, so its growth is only the single-vector scan
    // arm. Fine-grained chunking (8 tokens, no overlap — the regime
    // where multi-vector retrieval is actually used: many vectors per
    // doc) makes the quadratic arm visible; at the fixture's default
    // 64-token chunks docs carry only ~1-4 chunks and full MaxSim
    // degenerates to roughly the cosine scan's cost (measured, not a
    // regression). Same queries; rerank answers == full answers on
    // shortlisted pairs (spec-pinned).
    if (enabled("maxsim")) {
      def docsRep(times: Int): DataFrame =
        base.withColumn("r", explode(sequence(lit(0), lit(times - 1))))
          .select((col("doc_id") * times + col("r")).as("doc_id"),
            array_join(transform(split(col("text"), " "),
              t => concat(lit("r"), col("r"), t)), " ").as("text"))
      def timeMs(label: String, times: Int,
          silent: Boolean = false): Unit = {
        val cvs = graft.ops.Similarity.chunkVectors(docsRep(times),
            chunkTokens = 8, overlap = 0)
          .persist()
        cvs.count() // chunk encoding outside both windows (shared cost)
        val emb = embRep(times)
        val t0 = System.nanoTime()
        val nFull = graft.ops.Similarity
          .maxSimTopK(cvs, nQueries = 5L).count()
        val tFull = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val nRr = graft.ops.Similarity
          .maxSimRerank(cvs, emb, nQueries = 5).count()
        val tRr = (System.nanoTime() - t1) / 1e9
        cvs.unpersist()
        graft.ops.TextKit.releaseCaches()
        spark.catalog.clearCache(); base.cache(); base.count()
        embBase.cache(); embBase.count()
        if (!silent)
          println(f"""{"experiment":"$label","rows":${n * times},""" +
            f""""full_topk":$nFull,"rerank_topk":$nRr,""" +
            f""""full_sec":$tFull%.2f,"rerank_sec":$tRr%.2f}""")
      }
      timeMs("warmup", 1, silent = true)
      timeMs("maxsim_1x", 1)
      timeMs(s"maxsim_${k}x", k)
    }
    // ppjoin vs ppjoin+ (q189): the SAME prefix+length+positional
    // candidates, verified by array_intersect vs the suffix-bounded
    // early-exit merge. The merge must return the identical pair count
    // (hash-identical by construction); the wall delta is the measured
    // trade the flag exists for — negative results are evidence too.
    if (enabled("ppjoin")) {
      def timePp(label: String, suffix: Boolean,
          silent: Boolean = false): Long = {
        val t0 = System.nanoTime()
        val nPairs = graft.ops.Dedup
          .prefixFilterPairs(base, tau = 0.5, suffixVerify = suffix)
          .count()
        val t = (System.nanoTime() - t0) / 1e9
        graft.ops.TextKit.releaseCaches()
        spark.catalog.clearCache(); base.cache(); base.count()
        if (!silent)
          println(f"""{"experiment":"$label","rows":$n,""" +
            f""""pairs":$nPairs,"verify":"${
              if (suffix) "suffix-merge" else "array_intersect"
            }","wall_sec":$t%.2f}""")
        nPairs
      }
      timePp("warmup", suffix = false, silent = true)
      val p0 = timePp("ppjoin_intersect", suffix = false)
      val p1 = timePp("ppjoin_suffix", suffix = true)
      require(p0 == p1, s"suffix verify changed the pair set: $p0 vs $p1")
    }

    // Streaming DV-delete replay (q250-class): a delete commit whose
    // position count grows kx must plan partitions whose SERIALIZED
    // size stays flat — positions load executor-side from the sidecar
    // parquet, never riding the driver or the task-serialization path
    // (the round-11 scale-killer). Emits the max partition bytes and
    // the end-to-end feed wall.
    if (enabled("dvstream")) {
      def timeDv(label: String, times: Int,
          silent: Boolean = false): Unit = {
        import graft.lake.ManifestCommit
        val rows = 40000L * times
        val dir = new org.apache.hadoop.fs.Path(
          s"${System.getProperty("java.io.tmpdir")}/graft_smoke_dv_" +
            s"${java.util.UUID.randomUUID().toString.take(8)}/tbl")
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        graft.ops.Layout.writeLinear(
          spark.range(rows).select(col("id").as("k"),
            (col("id") % 7).as("g"), (col("id") * 3).as("v")),
          col("k"), dir.toString, 16)
        ManifestCommit.bootstrap(fs, dir)
        val v0 = ManifestCommit.recordStats(spark, dir, Seq("k")).version
        // ONE commit deleting half the table — the GDPR-scale shape
        val (_, nDel) =
          ManifestCommit.deleteWhereDV(spark, dir, "k", 0L, rows / 2 - 1)
        val head = ManifestCommit.currentSnapshot(fs, dir).get.version
        val parts = graft.sources.FeedSource
          .describePlannedPartitions(dir.toString, v0, head)
        val maxBytes = parts.map(_._4).max
        val t0 = System.nanoTime()
        val fed = graft.streaming.StreamingOps
          .streamFeedSource(spark, dir.toString, v0).count()
        val tFeed = (System.nanoTime() - t0) / 1e9
        require(fed == nDel, s"feed replayed $fed of $nDel deletes")
        fs.delete(dir.getParent, true)
        spark.catalog.clearCache(); base.cache(); base.count()
        if (!silent)
          println(f"""{"experiment":"$label","rows":$rows,""" +
            f""""deleted":$nDel,"partitions":${parts.size},""" +
            f""""max_part_bytes":$maxBytes,"feed_sec":$tFeed%.2f}""")
      }
      timeDv("warmup", 1, silent = true)
      timeDv("dvstream_1x", 1)
      timeDv(s"dvstream_${k}x", k)
    }

    // Parallel leaf replication (q257-class): initial sync of an
    // L-leaf Hive table through replicateTable at parallelism 1 vs 8 —
    // leaves are independent single-writer domains, so the bounded
    // driver pool should cut the wall near-linearly (thousands of
    // sequential Spark jobs was the round-11 finding).
    if (enabled("replicate")) {
      def timeRepl(label: String, leaves: Int, par: Int,
          silent: Boolean = false): Double = {
        val root = s"${System.getProperty("java.io.tmpdir")}/" +
          s"graft_smoke_repl_${java.util.UUID.randomUUID().toString.take(8)}"
        val src = s"$root/src"
        spark.range(leaves * 4000L).select(col("id").as("k"),
            (col("id") % 7).as("g"), (col("id") * 3).as("v"),
            (col("id") % leaves + 1).cast("int").as("day"))
          .write.partitionBy("day").parquet(src)
        val t0 = System.nanoTime()
        graft.lake.ChangeFeed.replicateTable(spark, src, s"$root/dst",
          "k", appId = "smoke-repl", parallelism = par)
        val t = (System.nanoTime() - t0) / 1e9
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(root), true)
        spark.catalog.clearCache(); base.cache(); base.count()
        if (!silent)
          println(f"""{"experiment":"$label","leaves":$leaves,""" +
            f""""parallelism":$par,"sync_sec":$t%.2f}""")
        t
      }
      timeRepl("warmup", 2, 2, silent = true)
      timeRepl("replicate_serial", 16, 1)
      timeRepl("replicate_pooled", 16, 8)
    }
    // Netted multi-commit apply vs per-commit replay: the SAME k-commit
    // backlog consumed by streamFeedIndexMaintain one-commit-per-batch
    // (k micro-batches, k index applies) vs netted (ONE batch, one
    // apply). Results are spec-pinned identical; the claim here is
    // wall time — a consumer catching up on a backlog pays one index
    // pass, not one per commit.
    if (enabled("netbatch")) {
      import graft.lake.ManifestCommit
      def timeNb(label: String, commits: Int,
          mc: Option[Long], silent: Boolean = false): Unit = {
        val root = s"${System.getProperty("java.io.tmpdir")}/" +
          s"graft_smoke_nb_${java.util.UUID.randomUUID().toString.take(8)}"
        val tbl = new org.apache.hadoop.fs.Path(s"$root/tbl")
        val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val docs = base.limit(4000).select(col("doc_id"), col("text"))
        graft.ops.Layout.writeLinear(docs, col("doc_id"), tbl.toString, 4)
        ManifestCommit.bootstrap(fs, tbl)
        val v0 = ManifestCommit
          .recordStats(spark, tbl, Seq("doc_id")).version
        (0 until commits).foreach { i =>
          ManifestCommit.upsertDV(spark, tbl, "doc_id",
            docs.filter(col("doc_id") % commits === i).limit(50)
              .select(col("doc_id"),
                concat(lit(s"c$i "), col("text")).as("text")),
            statsCols = Seq("doc_id"))
        }
        val t0 = System.nanoTime()
        val buckets = graft.streaming.StreamingOps
          .streamFeedIndexMaintain(spark, tbl.toString, v0,
            indexStateDir = Some(s"$root/ix"), maxCommitsPerBatch = mc)
          .count()
        val t = (System.nanoTime() - t0) / 1e9
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        graft.ops.TextKit.releaseCaches()
        spark.catalog.clearCache(); base.cache(); base.count()
        if (!silent)
          println(f"""{"experiment":"$label","commits":$commits,""" +
            f""""buckets":$buckets,"catchup_sec":$t%.2f}""")
      }
      timeNb("warmup", 2, Some(1L), silent = true)
      timeNb("netbatch_percommit", 8, Some(1L))
      timeNb("netbatch_netted", 8, None)
    }
    // Table-level streaming feed at many leaves: L day-partitions with a
    // delta in exactly TWO of them. The leaf-vector offset costs
    // O(leaves) bytes and planning costs O(leaves) manifest GETs, while
    // the fed ROWS stay flat — doubling the leaf count must not grow
    // the feed, and the planning overhead per extra (untouched) leaf is
    // one driver-side metadata read, never a Spark job.
    if (enabled("tablefeed")) {
      def timeTf(label: String, leaves: Int,
          silent: Boolean = false): Unit = {
        import graft.lake.{ChangeFeed, ManifestCommit}
        val root = s"${System.getProperty("java.io.tmpdir")}/" +
          s"graft_smoke_tf_${java.util.UUID.randomUUID().toString.take(8)}/t"
        spark.range(leaves * 2000L).select(col("id").as("k"),
            (col("id") * 3).as("v"),
            (col("id") % leaves + 1).cast("int").as("day"))
          .write.partitionBy("day").parquet(root)
        val cursors = ChangeFeed.tableCursors(spark, root)
        Seq(1, 2).foreach { d =>
          ManifestCommit.stageAndPublish(spark,
            new org.apache.hadoop.fs.Path(s"$root/day=$d"),
            spark.range(500).select((col("id") + 10000000L * d).as("k"),
              (col("id") * 3).as("v")),
            _ => true, statsCols = Seq("k"))
            .getOrElse(sys.error("smoke publish failed"))
        }
        val t0 = System.nanoTime()
        val rows = graft.streaming.StreamingOps
          .streamFeedTable(spark, root, cursors).count()
        val t = (System.nanoTime() - t0) / 1e9
        val offsetBytes = graft.sources.TableFeedSource
          .cursorsJson(cursors).length
        new org.apache.hadoop.fs.Path(root).getParent
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(root).getParent, true)
        spark.catalog.clearCache(); base.cache(); base.count()
        if (!silent)
          println(f"""{"experiment":"$label","leaves":$leaves,""" +
            f""""feed_rows":$rows,"offset_bytes":$offsetBytes,""" +
            f""""feed_sec":$t%.2f}""")
      }
      timeTf("warmup", 4, silent = true)
      timeTf("tablefeed_64", 64)
      timeTf("tablefeed_128", 128)
    }

    // SQL catalog batch scan vs the library GraftFileIndex scan over
    // the SAME manifest table: round 13's SQL path read every file
    // through the row-at-a-time parquet Group API (one unsplittable
    // partition per file); round 14 routes DV-free files through the
    // stock vectorized factory with byte-range splitting — the two
    // scans should now be within noise of each other per byte.
    if (enabled("sqlscan")) {
      def timeSql(label: String, rowsM: Int,
          silent: Boolean = false): Unit = {
        val wh = s"${System.getProperty("java.io.tmpdir")}/" +
          s"graft_smoke_sql_${java.util.UUID.randomUUID().toString.take(8)}"
        val ss = spark.newSession()
        ss.conf.set("spark.sql.catalog.g", "graft.lake.GraftCatalog")
        ss.conf.set("spark.sql.catalog.g.warehouse", wh)
        ss.sql("CREATE TABLE g.t (k BIGINT, v BIGINT, w DOUBLE)")
        ss.range(rowsM * 1000000L).selectExpr("id as k", "id * 3 as v",
            "id * 0.5 as w").repartition(8)
          .createOrReplaceTempView("smoke_src")
        ss.sql("INSERT INTO g.t SELECT * FROM smoke_src")
        def run(f: () => Long): Double = {
          val t0 = System.nanoTime()
          f(); (System.nanoTime() - t0) / 1e9
        }
        val dir = s"$wh/t"
        // warm both paths once, then measure
        val lib = () => graft.lake.GraftFileIndex.table(spark, dir)
          .selectExpr("sum(v)", "sum(w)").collect()(0).getLong(0)
        val sql = () => ss.sql("SELECT sum(v), sum(w) FROM g.t")
          .collect()(0).getLong(0)
        require(lib() == sql(), "scan paths disagree")
        val tLib = run(lib)
        val tSql = run(sql)
        new org.apache.hadoop.fs.Path(wh)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(wh), true)
        spark.catalog.clearCache(); base.cache(); base.count()
        if (!silent)
          println(f"""{"experiment":"$label","rows":${rowsM * 1000000L},""" +
            f""""lib_scan_sec":$tLib%.2f,"sql_scan_sec":$tSql%.2f,""" +
            f""""ratio":${tSql / tLib}%.2f}""")
      }
      timeSql("warmup", 1, silent = true)
      timeSql("sqlscan_8m", 8)
    }

    // CDC bootstrap through the vectorized insert tier vs the Group
    // reader, on the shape that matters at scale: ONE FAT delta file.
    // The Group reader cannot split a file — a 100 GB append replayed
    // through it is ONE task however many executors idle; the
    // vectorized tier byte-range-splits it like any batch scan. (On
    // many well-sized files the two tiers are within noise — the
    // 32MB threshold keeps tiny per-commit deltas on the cheap Group
    // path, whose fixed setup is lower; measured, not guessed.)
    // Driver metadata note (round 15): VecFeed.convert's split planning
    // now sizes candidate files with ONE listStatus per parent
    // directory instead of one getFileStatus per file — bootstrap
    // metadata round-trips scale with the LAYOUT (O(leaves)), not the
    // file count; at 100 TB a bootstrap plans thousands of files but
    // only hundreds of leaves, and an object-store LIST pages ~1000
    // entries per call vs one GET round-trip each.
    if (enabled("feedboot")) {
      def timeFb(label: String, rowsM: Int, files: Int,
          forceGroup: Boolean, silent: Boolean = false): Unit = {
        val root = s"${System.getProperty("java.io.tmpdir")}/" +
          s"graft_smoke_fb_${java.util.UUID.randomUUID().toString.take(8)}/t"
        val df = spark.range(rowsM * 1000000L).selectExpr("id as k",
          "id * 3 as v", "CAST(id * 0.5 AS DOUBLE) as w")
        graft.ops.Layout.writeLinear(df, col("k"), root, files)
        val dir = new org.apache.hadoop.fs.Path(root)
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        graft.lake.ManifestCommit.bootstrap(fs, dir)
        graft.lake.ManifestCommit.recordSchema(spark, dir)
        if (forceGroup)
          System.setProperty("graft.feed.vec.minBytes", Long.MaxValue.toString)
        else System.clearProperty("graft.feed.vec.minBytes")
        val t0 = System.nanoTime()
        // executor-side count per micro-batch: the memory sink would
        // collect 8M rows to the driver and swamp the scan under test
        val counter = new java.util.concurrent.atomic.AtomicLong()
        val ss = spark.newSession()
        ss.conf.set("spark.sql.shuffle.partitions", "4")
        ss.readStream.format("graft.sources.FeedSource")
          .option("path", root).option("bootstrap", "true").load()
          .writeStream
          .foreachBatch((df: DataFrame, _: Long) => {
            counter.addAndGet(df.count()); ()
          })
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
        val n = counter.get()
        val t = (System.nanoTime() - t0) / 1e9
        System.clearProperty("graft.feed.vec.minBytes")
        require(n == rowsM * 1000000L, s"bootstrap fed $n rows")
        fs.delete(dir.getParent, true)
        spark.catalog.clearCache(); base.cache(); base.count()
        if (!silent)
          println(f"""{"experiment":"$label","rows":${rowsM * 1000000L},""" +
            f""""tier":"${if (forceGroup) "group" else "vectorized"}",""" +
            f""""bootstrap_sec":$t%.2f}""")
      }
      timeFb("warmup", 1, 2, forceGroup = false, silent = true)
      timeFb("feedboot_vec_fatfile", 8, 1, forceGroup = false)
      timeFb("feedboot_group_fatfile", 8, 1, forceGroup = true)
      timeFb("feedboot_vec_8files", 8, 8, forceGroup = false)
      timeFb("feedboot_group_8files", 8, 8, forceGroup = true)
    }
    // Partitioned SQL-catalog scan at many leaves: a partition
    // predicate must prune whole LEAVES before any manifest GET —
    // planning cost tracks the KEPT leaf count, and the pruned query's
    // wall time must not grow with the table's leaf count.
    if (enabled("sqlpart")) {
      def timeSp(label: String, leaves: Int,
          silent: Boolean = false): Unit = {
        val wh = s"${System.getProperty("java.io.tmpdir")}/" +
          s"graft_smoke_sp_${java.util.UUID.randomUUID().toString.take(8)}"
        val ss = spark.newSession()
        ss.conf.set("spark.sql.catalog.g", "graft.lake.GraftCatalog")
        ss.conf.set("spark.sql.catalog.g.warehouse", wh)
        ss.sql("CREATE TABLE g.sp (k BIGINT, v BIGINT, day INT) " +
          "PARTITIONED BY (day)")
        ss.range(leaves * 50000L).selectExpr("id as k", "id * 3 as v",
            s"CAST(id % $leaves + 1 AS INT) as day")
          .createOrReplaceTempView("sp_src")
        ss.sql("INSERT INTO g.sp SELECT * FROM sp_src")
        def run(sql: String): (Double, Long) = {
          val t0 = System.nanoTime()
          val n = ss.sql(sql).collect()(0).getLong(0)
          ((System.nanoTime() - t0) / 1e9, n)
        }
        run(s"SELECT count(*) FROM g.sp WHERE day = 1") // warm
        val (tP, nP) = run(s"SELECT count(*) FROM g.sp WHERE day = 1")
        val (tF, nF) = run(s"SELECT count(*) FROM g.sp")
        require(nP == 50000L && nF == leaves * 50000L,
          s"wrong counts $nP/$nF")
        new org.apache.hadoop.fs.Path(wh)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(wh), true)
        spark.catalog.clearCache(); base.cache(); base.count()
        if (!silent)
          println(f"""{"experiment":"$label","leaves":$leaves,""" +
            f""""pruned_scan_sec":$tP%.2f,"full_scan_sec":$tF%.2f}""")
      }
      timeSp("warmup", 4, silent = true)
      timeSp("sqlpart_32", 32)
      timeSp("sqlpart_128", 128)
    }
    // Arbitrary-predicate DV delete: the position scan must read only
    // the files the predicate's LONG-RANGE conjuncts keep (manifest
    // stats pruning) — a range-carrying delete on a key-clustered
    // layout touches O(box) files regardless of table size, while a
    // rangeless predicate is an honest full scan of the live set. Both
    // write O(deleted rows) sidecar bytes and move no data files.
    if (enabled("apdel")) {
      import org.apache.spark.sql.functions.{concat, lit}
      def timeAd(label: String, rowsM: Int, silent: Boolean = false)
          : Unit = {
        val root = s"${System.getProperty("java.io.tmpdir")}/" +
          s"graft_smoke_ad_${java.util.UUID.randomUUID().toString.take(8)}/t"
        val n = rowsM * 1000000L
        val df = spark.range(n).selectExpr("id as k", "id * 3 as v",
          "concat('t', CAST(id % 1000 AS STRING)) as tag")
        graft.ops.Layout.writeLinear(df, col("k"), root, 16)
        val dir = new org.apache.hadoop.fs.Path(root)
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        graft.lake.ManifestCommit.bootstrap(fs, dir)
        graft.lake.ManifestCommit.recordSchema(spark, dir)
        graft.lake.ManifestCommit.recordStats(spark, dir, Seq("k"))
        val live0 = graft.lake.ManifestCommit
          .currentSnapshot(fs, dir).get.files.toSet
        val (lo, hi) = (n / 4, n / 4 + n / 16) // ~1/16 of the key space
        def run(cond: org.apache.spark.sql.Column,
            pruning: graft.lake.ManifestCommit.Pruning)
            : (Double, Int, Long) = {
          val t0 = System.nanoTime()
          val (touched, del) = graft.lake.ManifestCommit
            .deleteWherePredicateDV(spark, dir, cond, pruning)
          ((System.nanoTime() - t0) / 1e9, touched, del)
        }
        // ranged: tag equality bounded by a key box — stats keep ~1-2
        // of the 16 files; rangeless: the same shape over the whole set
        val (tR, fR, nR) = run(
          col("k").between(lo, hi) && col("tag") === lit("t7"),
          graft.lake.ManifestCommit.Pruning.range("k", lo, hi))
        val (tF, fF, nF) = run(col("tag") === lit("t8"),
          graft.lake.ManifestCommit.Pruning.none)
        require(graft.lake.ManifestCommit.currentSnapshot(fs, dir).get
          .files.toSet == live0, "a DV delete must not move data files")
        require(nR > 0 && nF > 0, s"deleted $nR/$nF rows")
        fs.delete(dir.getParent, true)
        spark.catalog.clearCache(); base.cache(); base.count()
        if (!silent)
          println(f"""{"experiment":"$label","rows":$n,""" +
            f""""ranged_sec":$tR%.2f,"ranged_files":$fR,""" +
            f""""rangeless_sec":$tF%.2f,"rangeless_files":$fF,""" +
            f""""ranged_rows":$nR,"rangeless_rows":$nF}""")
      }
      timeAd("warmup", 1, silent = true)
      timeAd("apdel_8m", 8)
    }
    // Per-leaf commit parallelism: a statement that must visit EVERY
    // leaf of a partitioned table (here an arbitrary-predicate DELETE
    // — one DV position-scan job + one commit per leaf) used to run
    // its leaves strictly sequentially; LeafPar overlaps them on a
    // bounded pool. The win is the per-leaf job-launch + metadata
    // latency, which at hundreds of leaves dominates the statement.
    if (enabled("leafpar")) {
      def timeLp(label: String, leaves: Int, par: Int,
          silent: Boolean = false): Unit = {
        val wh = s"${System.getProperty("java.io.tmpdir")}/" +
          s"graft_smoke_lp_${java.util.UUID.randomUUID().toString.take(8)}"
        val ss = spark.newSession()
        ss.conf.set("spark.sql.shuffle.partitions", "4")
        ss.conf.set("spark.sql.catalog.g", "graft.lake.GraftCatalog")
        ss.conf.set("spark.sql.catalog.g.warehouse", wh)
        ss.sql("CREATE TABLE g.lp (k BIGINT, v BIGINT, day INT) " +
          "PARTITIONED BY (day)")
        ss.range(leaves * 100000L).selectExpr("id as k", "id * 3 as v",
            s"CAST(id % $leaves + 1 AS INT) as day")
          .createOrReplaceTempView("lp_src")
        ss.sql("INSERT INTO g.lp SELECT * FROM lp_src")
        val prev = sys.props.get("graft.leaf.par")
        sys.props("graft.leaf.par") = par.toString
        val t0 = System.nanoTime()
        ss.sql("DELETE FROM g.lp WHERE v = 333")
        val t = (System.nanoTime() - t0) / 1e9
        prev match {
          case Some(p) => sys.props("graft.leaf.par") = p
          case None => sys.props.remove("graft.leaf.par")
        }
        val n = ss.sql("SELECT count(*) FROM g.lp").collect()(0).getLong(0)
        require(n == leaves * 100000L - 1, s"count $n")
        new org.apache.hadoop.fs.Path(wh)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(wh), true)
        spark.catalog.clearCache(); base.cache(); base.count()
        if (!silent)
          println(f"""{"experiment":"$label","leaves":$leaves,""" +
            f""""leaf_par":$par,"delete_sec":$t%.2f}""")
      }
      timeLp("warmup", 4, 8, silent = true)
      timeLp("leafpar_seq", 64, 1)
      timeLp("leafpar_pooled", 64, 8)
    }
    spark.stop()
  }
}
