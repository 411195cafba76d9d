package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.lake.LakeDataset

/** Scale-headroom smoke: blow sf0.1 lineitem up 10× (~6M rows) in memory
  * (distinct keys per copy), then run the lake's write path end-to-end —
  * create partitioned+bucketed, upsert a 1/7 slice, aggregate, save, load.
  * Prints per-phase seconds. Exercises the same code paths the driver
  * benches, one order of magnitude up.
  *
  * `runMain graft.tools.ScaleSmoke [sfDir] [section,…]` runs the named
  * [[Sections]] (all of them when none is named), e.g. `… sf0.1 r7,ivf`
  * (`… sf0.1 r7 ivf` names the same two);
  * `SPARK_GRAFT_COPIES` sets the scale factor and `SPARK_GRAFT_CPUS` the
  * local core count.
  */
object ScaleSmoke {
  /** Section names in run order: `base` (the lineitem write path), the
    * round-tagged claims `r7`…`r15`, the IVF probe curve `ivf`, and the
    * exact and MinHash incremental-index curves `ex` and `mh`.
    */
  val Sections: Seq[String] = Seq("base", "r7", "r8", "r9", "r10", "r11",
    "r12", "r12b", "r12c", "r12d", "r12e", "r13a", "r13b", "r13c", "r13d",
    "r14", "r14b", "r14c", "r15", "ivf", "ex", "mh")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val only = graft.Bench.select(
      Option(args.drop(1).mkString(",")).filter(_.nonEmpty), Sections)
    def on(section: String): Boolean = only.forall(_.contains(section))
    val copies = sys.env.getOrElse("SPARK_GRAFT_COPIES", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.buffer.pageSize", "2m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scale] $label%-26s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
      r
    }

    if (on("base")) {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val big = (0 until copies).map { i =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 10000000L))
    }.reduce(_ unionByName _)
    val n = time("materialize 10x corpus")(big.localCheckpoint(true).count())
    println(s"[scale] rows: $n")
    val corpus = big

    val ds = time("create (partition+bucket)") {
      LakeDataset.fromDataFrame(spark, corpus,
        partitionCols = Seq("l_returnflag"), bucketCols = Seq("l_partkey"), nBuckets = 5)
    }
    time("upsert 1/7 slice") {
      ds.upsert(corpus.filter(col("l_orderkey") % 7 === 0)
        .withColumn("l_quantity", col("l_quantity") + 100),
        Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"))
    }
    val agg = time("aggregate over union view") {
      ds.toDF.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(38,2)")).as("q"))
        .collect()
    }
    println(s"[scale] agg rows: ${agg.length}, total n: ${agg.map(_.getLong(1)).sum}")

    val root = java.nio.file.Files.createTempDirectory("graft_scale").toString
    ds.storage = Some(graft.model.StorageSpec(root))
    time("save to storage")(ds.toStorage())
    val back = time("load from storage")(LakeDataset.fromStorage(spark, root))
    val cnt = time("count loaded")(back.toDF.count())
    println(s"[scale] loaded rows: $cnt")
    LakeDataset.deleteRecursively(java.nio.file.Paths.get(root))

    // ---- zone-map pruning at many-part scale -------------------------------
    // orders scaled `copies`x, range-partitioned into ~10 cells per copy so
    // every cell has a disjoint o_orderkey interval. A keyed delete drops
    // the clean scan, so reads plan the union — the regime where
    // engine-level pruning decides the plan size.
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val bigO = (0 until copies).map { i =>
      o.withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 10000000L))
    }.reduce(_ unionByName _)
      .withColumn("o_batch", (col("o_orderkey") / 60000L).cast("long"))
    val dz = time("create range-partitioned") {
      LakeDataset.fromDataFrame(spark, bigO, partitionCols = Seq("o_batch"))
    }
    println(s"[scale] zone dataset parts: ${dz.numParts}")
    val loKey = 1000L
    val hiKey = 60000L
    // An insert keeps the whole-table view; the delete's key probe must
    // still plan only the zone-kept parts. The delete then drops the view.
    dz.insert(bigO.limit(1))
    time("keys-only located delete") {
      import spark.implicits._
      dz.delete((loKey to loKey + 500L).toDF("o_orderkey"), Seq("o_orderkey"))
    }
    time("zone-pruned range agg") {
      dz.zoneRangePrunedDF("o_orderkey", loKey, hiKey)
        .filter(col("o_orderkey").between(loKey, hiKey))
        .agg(count(lit(1))).collect()
    }
    time("unpruned range agg") {
      dz.toDF.filter(col("o_orderkey").between(loKey, hiKey))
        .agg(count(lit(1))).collect()
    }

    // ---- the SAME range query through the SQL surface ----------------------
    // The view resolves to a LakeScan leaf; LakePruneRule rewrites it to the
    // zone-pruned union at optimization time — spark.sql now pays the pruned
    // cost, not the full union the old fixed-plan views captured.
    val db = new graft.lake.Database(spark)
    db.register("orders_scaled", dz)
    time("SQL zone-pruned range agg") {
      spark.sql(
        s"SELECT COUNT(*) FROM orders_scaled WHERE o_orderkey BETWEEN $loKey AND $hiKey")
        .collect()
    }
    val sqlLeaves = spark.sql(
      s"SELECT COUNT(*) FROM orders_scaled WHERE o_orderkey BETWEEN $loKey AND $hiKey")
      .queryExecution.optimizedPlan.collectLeaves().size
    println(s"[scale] SQL plan leaves: $sqlLeaves of ${dz.numParts} parts")
    }

    // ---- round 7: z-order layout, PQ codes, materialized view --------------
    if (on("r7")) {
      import graft.operators.{Clustering, MaterializedAgg, Pq, Similarity}

      // Z-ORDER: orders scaled `copies`x, clustered on (o_custkey,
      // o_totalprice). The claim: range queries on EITHER column prune to
      // few bins — a single-column layout prunes one dimension only.
      val o7 = spark.read.parquet(s"$sfDir/orders.parquet")
      val bigO7 = (0 until copies).map { i =>
        o7.withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 10000000L))
      }.reduce(_ unionByName _).localCheckpoint(true)
      println(s"[scale] r7 orders: ${bigO7.count()} rows")
      val zlake = time(s"zorder create ${copies}x (64 bins)") {
        Clustering.zorderLake(spark, bigO7,
          Seq("o_custkey", "o_totalprice"), bits = 8, nBins = 64)
      }
      // continuous-ingest path: a tiny batch routes through the build-time
      // recipe
      time("zorder ingest tiny batch") {
        zlake.insert(bigO7.filter(col("o_orderkey") % 99991 === 0))
      }
      // The honest pruning measurement is DISK-backed: each kept bin reads
      // its own directory only (in-memory parts are slices of one shared
      // snapshot — every kept part would re-scan the whole snapshot, which
      // overstates pruned cost and has no 100 TB analogue).
      val zroot = java.nio.file.Files.createTempDirectory("graft_scale_z").toString
      zlake.dataset.storage = Some(graft.model.StorageSpec(zroot))
      time("zorder save")(zlake.dataset.toStorage())
      val zds = time("zorder load")(LakeDataset.fromStorage(spark, zroot))
      // drop cleanScan (an UPDATE does; an insert keeps it): plan the union
      zds.updateWhere(col("o_orderkey") === 1L,
        Seq("o_orderpriority" -> col("o_orderpriority")))
      def leaves(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.optimizedPlan.collectLeaves().size
      val custPrune = zds.prunedByConstraints(Map.empty,
        Map("o_custkey" -> (Some(100L), Some(800L))))
      time("zorder custkey-range agg (pruned)") {
        custPrune.filter(col("o_custkey").between(100L, 800L))
          .agg(count(lit(1))).collect()
      }
      println(s"[scale] custkey prune: ${leaves(custPrune)} of ${zds.numParts} bins")
      val pricePrune = zds.prunedByConstraints(Map.empty,
        Map("o_totalprice" -> (Some(100000.0), Some(110000.0))))
      time("zorder price-range agg (pruned)") {
        pricePrune.filter(col("o_totalprice").between(100000.0, 110000.0))
          .agg(count(lit(1))).collect()
      }
      println(s"[scale] price prune: ${leaves(pricePrune)} of ${zds.numParts} bins")
      time("zorder price-range agg (unpruned)") {
        zds.toDF.filter(col("o_totalprice").between(100000.0, 110000.0))
          .agg(count(lit(1))).collect()
      }
      LakeDataset.deleteRecursively(java.nio.file.Paths.get(zroot))

      // PQ: embeddings scaled `copies`x. One encode pass, then the ADC scan
      // (reads 16-byte codes) vs the exact cosine scan (reads 256-byte
      // vectors); rerank adds the exact pass over k*refine candidates only.
      val emb7 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding")
      val embCopies = copies * 10 // vectors are small; 10x more shows scan-volume separation
      val bigE = (0 until embCopies).map { i =>
        emb7.select((col("vec_id") + lit(i.toLong * 1000000L)).as("vec_id"),
          transform(col("embedding"),
            x => (x * (lit(1.0f) + lit(i.toFloat) * lit(1e-4f))).cast("float"))
            .as("embedding"))
      }.reduce(_ unionByName _).localCheckpoint(true)
      println(s"[scale] r7 embeddings: ${bigE.count()} vectors (${embCopies}x)")
      val qv7 = emb7.filter(col("vec_id") === 7).head().getSeq[Float](1).toSeq
      val model7 = time(s"pq train (bounded sample)") {
        Pq.train(bigE, "embedding", "vec_id", dim = 64, m = 16, ksub = 256)
      }
      val coded = time(s"pq encode ${embCopies}x (one corpus pass)") {
        Pq.encode(bigE, "embedding", model7).select("vec_id", "pq_code")
          .localCheckpoint(true)
      }
      time(s"pq adc top-10 ${embCopies}x (codes only)") {
        Pq.adcTopK(coded, "vec_id", model7, qv7, 10).count()
      }
      time(s"exact cosine top-10 ${embCopies}x (full vectors)") {
        Similarity.bruteForceTopK(bigE, "embedding", "vec_id", qv7, 10).count()
      }
      val codedFull = Pq.encode(bigE, "embedding", model7).localCheckpoint(true)
      time(s"pq rerank top-10 ${embCopies}x (adc + exact over 100)") {
        Pq.rerankTopK(codedFull, "embedding", "vec_id", model7, qv7,
          k = 10, refine = 10).count()
      }

      // CHANGE FEED: after a run of mutations, a consumer's tail read
      // (changes since the second-to-last mark) must plan ~one cell and
      // cost ∝ the tail, independent of history length.
      {
        import graft.lake.{LakeDataset => LD, TrackedLake}
        val cdfBase = o7.limit(200000).localCheckpoint(true)
        val t = TrackedLake(spark,
          LD.fromDataFrame(spark, cdfBase, partitionCols = Seq("o_orderstatus")))
        val marks = time("cdf 24 mutations (20 I, 2 U, 2 D)") {
          val ins = (0 until 20).map { i =>
            t.insert(cdfBase.limit(1000)
              .withColumn("o_orderkey", col("o_orderkey") + lit(1e9.toLong * (i + 1))))
          }
          val ups = (0 until 2).map { i =>
            t.upsert(cdfBase.limit(500)
              .withColumn("o_totalprice", col("o_totalprice") + (i + 1)),
              Seq("o_orderkey"))
          }
          val dels = (0 until 2).map { i =>
            t.delete(cdfBase.limit(100).select("o_orderkey")
              .withColumn("o_orderkey", col("o_orderkey") + lit(1e9.toLong * (i + 1))),
              Seq("o_orderkey"))
          }
          (ins ++ ups ++ dels).toList
        }
        val last = marks.max
        time("cdf tail read (1 of 24 cells)") {
          t.changesSince(last - 1).count()
        }
        println(s"[scale] cdf tail leaves: " +
          s"${t.changesSince(last - 1).queryExecution.optimizedPlan.collectLeaves().size}" +
          s" of ${t.log.numParts} log cells")
        time("cdf full-history read") { t.changesSince(0L).count() }
        time("cdf vacuum below tail") { t.vacuum(last - 1) }
        println(s"[scale] cdf cells after vacuum: ${t.log.numParts}")

        // Pruned capture probe: a DISK-backed corpus ingested as key-range
        // batches (keys correlate with arrival, the log-append norm), one
        // cell per batch with a tight disjoint o_orderkey zone. A
        // bigint-keyed mutation's image scan routes through
        // prunedByLongKeys — cells whose zones exclude every batch key are
        // never opened. Compare against the full-table semi-join the
        // capture used to pay, which reads all cells.
        val cdfRoot = java.nio.file.Files.createTempDirectory("graft_scale_cdf").toString
        try {
          val kcells = 12
          val capBase = (0 until kcells).map { i =>
            o7.select(
              (col("o_orderkey") + lit(i.toLong * 10000000L)).as("o_orderkey"),
              col("o_orderstatus"), col("o_totalprice"))
              .withColumn("kcell", lit(i))
          }.reduce(_ unionByName _)
          LD.fromDataFrame(spark, capBase,
            partitionCols = Seq("kcell"),
            storage = Some(graft.model.StorageSpec(cdfRoot))).toStorage()
          val disk = LD.fromStorage(spark, cdfRoot)
          println(s"[scale] capture corpus: ${disk.rowsCount} rows, " +
            s"${disk.numParts} key-range cells")
          val t2 = TrackedLake(spark, disk)
          val batch = o7.limit(2000).select(
            (col("o_orderkey") + lit(7L * 10000000L)).as("o_orderkey"),
            col("o_orderstatus"), (col("o_totalprice") + 1).as("o_totalprice"))
            .withColumn("kcell", lit(7))
            .localCheckpoint(true)
          val keyRows = batch.select("o_orderkey").distinct().localCheckpoint(true)
          val keys = keyRows.collect().map(_.getLong(0))
          val pruned = disk.prunedByLongKeys("o_orderkey", keys)
          println(s"[scale] capture probe dirs: " +
            s"${org.apache.spark.sql.graftbridge.Bridge.scanRootPaths(pruned).size}" +
            s" of ${disk.numParts} cells")
          // Materialize FULL image rows (what capture checkpoints) — a
          // count() would let Catalyst prune to the key column and hide
          // the scan-volume difference.
          val img1 = time("capture image probe (pruned cells)") {
            pruned.join(keyRows, Seq("o_orderkey"), "left_semi")
              .localCheckpoint(true)
          }
          val img2 = time("capture image probe (full-table semi-join)") {
            disk.toDF.join(keyRows, Seq("o_orderkey"), "left_semi")
              .localCheckpoint(true)
          }
          img1.unpersist(); img2.unpersist()
          time("cdf upsert with pruned capture (pre+post images)") {
            t2.upsert(batch, Seq("o_orderkey"))
          }

          // Checkpoint: collapse the whole prefix into one base cell; tail
          // reads and later time travel survive, cell count resets.
          val t3 = TrackedLake(spark,
            LD.fromDataFrame(spark, cdfBase, partitionCols = Seq("o_orderstatus")),
            logBase = true)
          val ms = (0 until 12).map { i =>
            t3.insert(cdfBase.limit(500)
              .withColumn("o_orderkey", col("o_orderkey") + lit(1e9.toLong * (i + 1))))
          }
          val ckptAt = ms(9)
          time(s"cdf checkpoint at mark 10 of 13 (${t3.log.numParts} cells)") {
            t3.checkpoint(ckptAt, Seq("o_orderkey"))
          }
          println(s"[scale] cdf cells after checkpoint: ${t3.log.numParts}")
          time("cdf tail read after checkpoint") {
            t3.changesSince(ckptAt).count()
          }
          time("cdf bootstrap read (base cell + tail)") {
            t3.changesSince(ckptAt - 1).count()
          }

          // Durable feed: autoSave persists each mutation's cell as a
          // one-pass write; a streaming query then tails the log root and
          // replicates it into an EMPTY lake (CDC apply: merge I/U+ by
          // key, anti-join D out, seq order).
          val sroot = java.nio.file.Files.createTempDirectory("graft_scale_sfx").toString
          try {
            val t4 = TrackedLake(spark,
              LD.fromDataFrame(spark, cdfBase, partitionCols = Seq("o_orderstatus")),
              logRoot = Some(sroot), logBase = true, autoSave = true)
            time("cdf durable mutations (1 I + 1 U + 1 D, autoSave)") {
              t4.insert(cdfBase.limit(2000)
                .withColumn("o_orderkey", col("o_orderkey") + lit(5e9.toLong)))
              t4.upsert(cdfBase.limit(1000)
                .withColumn("o_totalprice", col("o_totalprice") + 1),
                Seq("o_orderkey"))
              t4.delete(cdfBase.limit(200).select("o_orderkey"), Seq("o_orderkey"))
            }
            val replica = LD.fromDataFrame(spark, cdfBase.limit(0),
              partitionCols = Seq("o_orderstatus"))
            time("cdf streaming replication (log -> empty replica)") {
              val q = t4.streamChanges().writeStream
                .foreachBatch(graft.streaming.StreamingIngest
                  .applyFeedBatches(replica, Seq("o_orderkey")))
                .start()
              try q.processAllAvailable() finally q.stop()
            }
            val (srcN, repN) = (t4.table.toDF.count(), replica.toDF.count())
            println(s"[scale] cdf replica rows: $repN (source $srcN)")
          } finally LD.deleteRecursively(java.nio.file.Paths.get(sroot))
        } finally LD.deleteRecursively(java.nio.file.Paths.get(cdfRoot))
      }

      // MATERIALIZED VIEW: build once over the corpus, then a tiny insert's
      // maintenance vs the full recompute it replaces.
      // 4x the z-order corpus so the recompute the view replaces is
      // visibly corpus-proportional while maintenance stays flat
      val mvBase = (0 until 4).map { i =>
        bigO7.withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 1000000000L))
      }.reduce(_ unionByName _).localCheckpoint(true)
      println(s"[scale] matview base: ${mvBase.count()} rows")
      val mv = time(s"matview build ${copies * 4}x") {
        MaterializedAgg.build(mvBase, Seq("o_orderstatus"), Seq(
          MaterializedAgg.count("n"),
          MaterializedAgg.sumDecimal("o_totalprice", "total"),
          MaterializedAgg.min("o_totalprice", "mn"),
          MaterializedAgg.max("o_totalprice", "mx")))
      }
      val tiny = mvBase.filter(col("o_orderkey") % 9999 === 0).localCheckpoint(true)
      println(s"[scale] tiny insert batch: ${tiny.count()} rows")
      time("matview maintain tiny insert") {
        mv.applyInsert(tiny); mv.state.collect()
      }
      time("full aggregate recompute (what the view replaces)") {
        mvBase.unionByName(tiny).groupBy("o_orderstatus")
          .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(38,2)")),
            min("o_totalprice"), max("o_totalprice")).collect()
      }
    }

    // ---- Round-8 additions: text search / data quality / SCD2 -------------
    if (on("r8")) {
      import graft.operators.{DataQuality, TextSearch}
      import graft.lake.{LakeDataset => LD, TrackedLake}

      // BM25 over a COPIES× documents corpus. The claims: (a) the index
      // build is one corpus pass + one bucketed write; (b) a query's scan
      // is |terms| of 64 bucket cells of the POSTINGS (not the corpus),
      // vs the no-index alternative that re-derives postings from every
      // document per query; (c) a small append maintains the index
      // without touching existing cells.
      val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      val docCopies = copies
      val bigDocs = (0 until docCopies).map { i =>
        docs0.select((col("doc_id") + lit(i.toLong * 100000000L)).as("doc_id"),
          col("text"))
      }.reduce(_ unionByName _).localCheckpoint(true)
      println(s"[scale] r8 documents: ${bigDocs.count()} docs (${docCopies}x)")
      val ftRoot = java.nio.file.Files.createTempDirectory("graft_scale_ft").toString
      try {
        time(s"bm25 index build ${docCopies}x (64 buckets)") {
          TextSearch.buildIndex(spark, bigDocs, "text", "doc_id",
            nBuckets = 64, storage = Some(graft.model.StorageSpec(ftRoot)))
        }
        val idx = time("bm25 index open")(TextSearch.open(spark, ftRoot))
        val q = "spark join window"
        val prunedDirs = org.apache.spark.sql.graftbridge.Bridge.scanRootPaths(
          TextSearch.prunedPostings(idx, TextSearch.queryTerms(q))).size
        println(s"[scale] bm25 query scans $prunedDirs of 64 postings cells")
        time("bm25 top-20 (pruned index)") {
          TextSearch.searchTopK(idx, q, 20).collect()
        }
        time("bm25 top-20 (no index: re-derive postings)") {
          // What every query pays without the index: tokenize + aggregate
          // the whole corpus, then score.
          val posts = TextSearch.postings(bigDocs, "text", "doc_id")
            .filter(col("w").isin(TextSearch.queryTerms(q): _*))
          val dfTab = posts.groupBy("w").agg(count(lit(1)).as("df"))
          val n = idx.n.toDouble
          val avgdl = idx.totalLen.toDouble / idx.n
          posts.join(broadcast(dfTab), "w")
            .withColumn("idf",
              log((lit(n) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
            .withColumn("s", col("idf") * (col("tf") * 2.2) /
              (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75 / avgdl) * col("dl"))))
            .groupBy("doc").agg(sum("s").as("score"))
            .orderBy(desc("score"), asc("doc")).limit(20).collect()
        }
        val batch = docs0.limit(500)
          .select((col("doc_id") + lit(77L * 100000000L)).as("doc_id"), col("text"))
        time("bm25 append 500-doc batch") {
          TextSearch.addToIndex(idx, batch, "text", "doc_id")
        }
      } finally LD.deleteRecursively(java.nio.file.Paths.get(ftRoot))

      // Phrase search: positional index, slot-vote alignment.
      val posRoot = java.nio.file.Files.createTempDirectory("graft_scale_pos").toString
      try {
        time(s"positional index build ${docCopies}x (64 buckets)") {
          TextSearch.buildPositional(spark, bigDocs, "text", "doc_id",
            nBuckets = 64, storage = Some(graft.model.StorageSpec(posRoot)))
        }
        val pidx = TextSearch.openPositional(spark, posRoot)
        val pdirs = org.apache.spark.sql.graftbridge.Bridge.scanRootPaths(
          TextSearch.phraseOccurrences(pidx, "batch batch")).size
        println(s"[scale] phrase query scans $pdirs of 64 positional cells")
        time("phrase top-20 (pruned index)") {
          TextSearch.phraseSearchTopK(pidx, "batch batch", 20).collect()
        }
      } finally LD.deleteRecursively(java.nio.file.Paths.get(posRoot))

      bigDocs.unpersist(true)

      // Data quality at COPIES× orders: the one-scan suite vs what a naive
      // per-constraint runner pays (k scans) — constraint count must not
      // multiply corpus scans.
      val dqBase = (0 until copies).map { i =>
        spark.read.parquet(s"$sfDir/orders.parquet")
          .withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 1000000000L))
      }.reduce(_ unionByName _).localCheckpoint(true)
      println(s"[scale] r8 orders: ${dqBase.count()} rows (${copies}x)")
      import DataQuality._
      val rowLocalSuite = Seq(
        NotNull("o_custkey"),
        InRange("o_totalprice", 0.0, 400000.0),
        MatchesRegex("o_orderpriority", "^[1-5]-[A-Z ]+$"),
        IsIn("o_orderstatus", Seq("O", "F")))
      time("dq 4 row-local constraints (ONE scan)") {
        DataQuality.check(dqBase, rowLocalSuite).collect()
      }
      time("dq same 4 as separate scans (naive)") {
        rowLocalSuite.foreach(c => DataQuality.check(dqBase, Seq(c)).collect())
      }
      time("dq profile 4 columns (one scan)") {
        DataQuality.profile(dqBase,
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"),
          approxDistinct = true).collect()
      }
      time("dq full suite (+unique, +ref-integrity)") {
        DataQuality.check(dqBase, rowLocalSuite ++ Seq(
          Unique(Seq("o_orderkey")),
          RefIntegrity("o_custkey",
            spark.read.parquet(s"$sfDir/customer.parquet"), "c_custkey"))).collect()
      }

      // SCD2: interval table from a 26-mutation feed over a 200k-row base
      // — one window pass; a point-in-time slice is a filter on the
      // materialized history, not a log replay.
      {
        val scdBase = dqBase.limit(200000)
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
          .localCheckpoint(true)
        val t = TrackedLake(spark,
          LD.fromDataFrame(spark, scdBase, partitionCols = Seq("o_orderstatus")),
          logBase = true)
        val marks = (0 until 24).map { i =>
          t.upsert(scdBase.limit(2000)
            .withColumn("o_totalprice", col("o_totalprice") + (i + 1)),
            Seq("o_orderkey"))
        } :+ t.delete(scdBase.limit(300).select("o_orderkey"), Seq("o_orderkey"))
        val hist = time("scd2 history build (one window pass)") {
          t.scdHistory(Seq("o_orderkey")).localCheckpoint(true)
        }
        println(s"[scale] scd2 intervals: ${hist.count()} " +
          s"(base ${scdBase.count()}, ${marks.size + 1} mutations)")
        time("scd2 point-in-time slice (interval filter)") {
          t.historyAsOf(hist, marks(10)).count()
        }
        time("scd2 same mark via log replay (tableAsOf)") {
          t.tableAsOf(marks(10), Seq("o_orderkey")).count()
        }
        hist.unpersist()
      }
    }

    // ---- Round-9 additions: metadata stats / catalog DPP join -------------
    if (on("r9")) {
      import graft.operators.{Joins, Stats}
      import graft.model.StorageSpec

      // Metadata-only aggregates: a COPIES× orders lake saved and RELOADED —
      // the loaded table answers count/min/max from the manifest's stats
      // with zero file reads, vs the full aggregation scan it replaces.
      val mo = (0 until copies).map { i =>
        spark.read.parquet(s"$sfDir/orders.parquet")
          .withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 1000000L))
      }.reduce(_ unionByName _)
        .withColumn("o_batch", (col("o_orderkey") / 500000).cast("int"))
        .localCheckpoint(true)
      println(s"[scale] r9 orders: ${mo.count()} rows (${copies}x)")
      val statsRoot = java.nio.file.Files.createTempDirectory("graft_r9_stats").toString
      try {
        val built = time(s"stats lake create+save ${copies}x") {
          val d = LakeDataset.fromDataFrame(spark, mo,
            partitionCols = Seq("o_batch"), storage = Some(StorageSpec(statsRoot)))
          d.toStorage(); d
        }
        println(s"[scale] r9 stats cells: ${built.numParts}")
        val loaded = time("stats lake load")(LakeDataset.fromStorage(spark, statsRoot))
        val statCols = Seq("o_orderkey", "o_totalprice")
        require(Stats.metaAnswerable(loaded, statCols), "loaded lake not tight")
        time("count/min/max METADATA-ONLY") {
          Stats.tableStats(spark, loaded, statCols).collect()
        }
        time("count/min/max full scan") {
          loaded.toDF.agg(count(lit(1)),
            min(col("o_orderkey")), max(col("o_orderkey")),
            min(col("o_totalprice")), max(col("o_totalprice"))).collect()
        }
        // HYBRID: dirty ONE cell (auto-analyze off to hold the dirty
        // state) — count/sum/min must keep answering with a one-cell scan,
        // not the table's.
        spark.conf.set("spark.graft.stats.autoAnalyzeCells", "0")
        val k = mo.select("o_orderkey").head().getLong(0)
        loaded.upsert(mo.filter(col("o_orderkey") === k)
          .withColumn("o_custkey", col("o_custkey") + 1L), Seq("o_orderkey"))
        val hdb = new graft.lake.Database(spark)
        hdb.register("scale_hy", loaded)
        val hq = "SELECT COUNT(*) AS c, SUM(o_custkey) AS s, " +
          "MIN(o_orderkey) AS mn FROM scale_hy"
        val leaves = org.apache.spark.sql.graftbridge.Bridge
          .scanRootPaths(hdb.executeSql(hq)).size
        println(s"[scale] hybrid scan roots: $leaves of ${loaded.numParts} cells")
        time("count/sum/min HYBRID (1 dirty cell)") {
          hdb.executeSql(hq).collect()
        }
        time("count/sum/min full scan (same state)") {
          loaded.toDF.agg(count(lit(1)), sum(col("o_custkey")),
            min(col("o_orderkey"))).collect()
        }
        spark.conf.unset("spark.graft.stats.autoAnalyzeCells")
      } finally LakeDataset.deleteRecursively(java.nio.file.Paths.get(statsRoot))

      // Catalog DPP join: a COPIES× lineitem fact in orderkey-range cells
      // on disk; a key-range dimension filter prunes fact CELLS through
      // zones before any fact byte is read — vs the whole-fact join.
      val fact0 = (0 until copies).map { i =>
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .select((col("l_orderkey") + lit(i.toLong * 1000000L)).as("l_orderkey"),
            col("l_extendedprice"), col("l_discount"))
      }.reduce(_ unionByName _)
        .withColumn("l_batch", (col("l_orderkey") / 500000).cast("int"))
        .localCheckpoint(true)
      println(s"[scale] r9 lineitem: ${fact0.count()} rows (${copies}x)")
      val dppRoot = java.nio.file.Files.createTempDirectory("graft_r9_dpp").toString
      try {
        val w = LakeDataset.fromDataFrame(spark, fact0,
          partitionCols = Seq("l_batch"), storage = Some(StorageSpec(dppRoot)))
        time(s"dpp fact save ${copies}x")(w.toStorage())
        val fact = LakeDataset.fromStorage(spark, dppRoot)
        val dim = spark.read.parquet(s"$sfDir/orders.parquet")
          .select((col("o_orderkey") + lit((copies / 2).toLong * 1000000L))
            .as("o_orderkey"), col("o_orderpriority"))
          .filter(col("o_orderkey") % 1000000L < 80000L)
        val joined = Joins.dppJoin(fact, "l_orderkey", dim, "o_orderkey")
        val opened = org.apache.spark.sql.graftbridge.Bridge
          .scanRootPaths(joined).count(_.contains("l_batch="))
        println(s"[scale] dpp join plans $opened of ${fact.numParts} fact cells")
        time("dpp join (pruned cells + broadcast dim)") {
          joined.agg(count(lit(1)), sum(col("l_extendedprice"))).collect()
        }
        time("plain join (whole fact)") {
          val f = fact.toDF
          f.join(dim, f("l_orderkey") === dim("o_orderkey"))
            .agg(count(lit(1)), sum(col("l_extendedprice"))).collect()
        }
      } finally LakeDataset.deleteRecursively(java.nio.file.Paths.get(dppRoot))

      // Predicate DELETE/UPDATE: a range-scoped mutation touches O(1)
      // cells — plan swaps only, with the cost landing on the next scan of
      // the touched cells, vs a whole-table rewrite.
      {
        import graft.operators.Stats
        val dml = LakeDataset.fromDataFrame(spark, mo,
          partitionCols = Seq("o_batch"))
        val touchedU = time("updateWhere (range-scoped)") {
          dml.updateWhere(col("o_orderkey").between(1000500L, 1002500L),
            Seq("o_totalprice" -> (col("o_totalprice") + 1)))
        }
        println(s"[scale] updateWhere touched $touchedU of ${dml.numParts} cells; " +
          s"count-metadata still exact: ${Stats.metaAnswerable(dml, Nil)}")
        val touched = time("deleteWhere (range-scoped)") {
          dml.deleteWhere(col("o_orderkey").between(1000L, 3000L))
        }
        println(s"[scale] deleteWhere touched $touched of ${dml.numParts} cells")
        time("post-mutation full aggregate") {
          dml.toDF.agg(count(lit(1)), sum(col("o_totalprice"))).collect()
        }
      }

      // Shard export at 30x: one shuffle + sorted one-file-per-shard write.
      {
        import graft.operators.Export
        val exRoot = java.nio.file.Files.createTempDirectory("graft_r9_export").toString
        try {
          val out = time(s"shard export ${copies}x (64 shards)") {
            Export.shardedWrite(mo, "o_orderkey", 64, exRoot)
          }
          println(s"[scale] export rows: ${out.count()}")
        } finally LakeDataset.deleteRecursively(java.nio.file.Paths.get(exRoot))
      }
      mo.unpersist(true); fact0.unpersist(true)
    }

    // ---- round-8 additions: metadata SUM, auto-checkpointed feed, --------
    // ---- exact one-task-per-shard export. --------------------------------
    if (on("r10")) {
      import graft.lake.{Database, TrackedLake}
      import graft.model.StorageSpec
      import graft.operators.{Export, Stats}

      val mo10 = (0 until copies).map { i =>
        spark.read.parquet(s"$sfDir/orders.parquet")
          .withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 1000000L))
      }.reduce(_ unionByName _)
        .withColumn("o_batch", (col("o_orderkey") / 500000).cast("int"))
        .localCheckpoint(true)
      println(s"[scale] r10 orders: ${mo10.count()} rows (${copies}x)")

      // Metadata SUM: the dashboard query `count(*), sum(x)` over a SAVED
      // and RELOADED lake answers from the manifest's decimal-folded sums —
      // a LocalRelation plan, zero file reads — vs the aggregation scan.
      val sumRoot = java.nio.file.Files.createTempDirectory("graft_r10_sum").toString
      try {
        val d = LakeDataset.fromDataFrame(spark, mo10,
          partitionCols = Seq("o_batch"), storage = Some(StorageSpec(sumRoot)))
        time(s"sum lake save ${copies}x")(d.toStorage())
        val loaded = time("sum lake load")(LakeDataset.fromStorage(spark, sumRoot))
        require(Stats.sumAnswerable(loaded, Seq("o_custkey", "o_orderkey")),
          "loaded lake sums not tight")
        val db = new Database(spark)
        db.register("r10_orders", loaded)
        val q = "SELECT COUNT(*) AS cnt, COUNT(o_custkey) AS nc, " +
          "SUM(o_custkey) AS sc, SUM(o_orderkey) AS sk FROM r10_orders"
        val meta = db.executeSql(q)
        require(meta.queryExecution.optimizedPlan.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
          "count+sum did not collapse")
        time("count+sum METADATA-ONLY")(meta.collect())
        time("count+sum full scan") {
          loaded.toDF.agg(count(lit(1)), count(col("o_custkey")),
            sum(col("o_custkey")), sum(col("o_orderkey"))).collect()
        }
        // Appends keep the answer exact and metadata-only.
        time("insert batch + metadata re-answer") {
          loaded.insert(mo10.limit(2000))
          db.refresh("r10_orders")
          val after = db.executeSql(q)
          require(after.queryExecution.optimizedPlan.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
          after.collect()
        }
      } finally LakeDataset.deleteRecursively(java.nio.file.Paths.get(sumRoot))

      // Auto-checkpointed feed: 30 mutations with a consumer acking — the
      // log's cell count stays bounded while tail reads keep pruning.
      {
        val base = LakeDataset.fromDataFrame(spark,
          mo10.filter(col("o_orderkey") % 4 === 0),
          partitionCols = Seq("o_orderstatus"))
        val t = TrackedLake(spark, base, logBase = true,
          autoCheckpoint = Some((8, Seq("o_orderkey"))))
        var maxCells = 0
        time("30 mutations + acks (autoCheckpoint=8)") {
          (0 until 30).foreach { i =>
            val s = t.insert(mo10.filter(col("o_orderkey") % 4 === 1)
              .limit(500)
              .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L + i * 10000L)))
            t.ack("replica", s)
            if (i >= 1) maxCells = math.max(maxCells, t.log.numParts)
          }
        }
        println(s"[scale] feed cells max after warmup: $maxCells (bound 8); " +
          s"final: ${t.log.numParts}")
        time("tail read at the high-water mark") {
          t.changesSince(t.currentSeq - 1).count()
        }
      }

      // Export: the inverse-hash route holds one shard per task at 64
      // shards — no hash-collision serialization of the write.
      {
        val n = 64
        val route = Export.routeFor(n)
        val routed = mo10
          .withColumn("shard", Export.shardColumn(col("o_orderkey"), n, hashed = true))
          .repartition(n, element_at(lit(route), col("shard").cast("int") + 1))
        val perTask = routed.groupBy(spark_partition_id().as("t"))
          .agg(countDistinct(col("shard")).as("s")).collect()
        println(s"[scale] export route: ${perTask.length} tasks, " +
          s"max shards/task ${perTask.map(_.getLong(1)).max}")
      }
      mo10.unpersist(true)
    }

    // ---- round-8 catalog DDL: shallow clone, ANALYZE, drift restore. ------
    if (on("r11")) {
      import graft.lake.TrackedLake
      import graft.model.StorageSpec

      val mo11 = (0 until copies).map { i =>
        spark.read.parquet(s"$sfDir/orders.parquet")
          .withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 1000000L))
      }.reduce(_ unionByName _)
        .withColumn("o_batch", (col("o_orderkey") / 500000).cast("int"))
        .localCheckpoint(true)
      val nRows = mo11.count()
      println(s"[scale] r11 orders: $nRows rows (${copies}x)")

      // SHALLOW CLONE: O(files) metadata ops vs the deep-copy alternative
      // (one full write pass). The claim that matters at 100 TB: clone
      // cost tracks FILE COUNT, not byte count.
      val srcRoot = java.nio.file.Files.createTempDirectory("graft_r11_src").toString
      val cloneRoot = java.nio.file.Files.createTempDirectory("graft_r11_clone").toString
      val deepRoot = java.nio.file.Files.createTempDirectory("graft_r11_deep").toString
      try {
        val d = LakeDataset.fromDataFrame(spark, mo11,
          partitionCols = Seq("o_batch"), storage = Some(StorageSpec(srcRoot)))
        time(s"clone-src save ${copies}x")(d.toStorage())
        val nFiles = {
          val w = java.nio.file.Files.walk(java.nio.file.Paths.get(srcRoot))
          try w.filter(java.nio.file.Files.isRegularFile(_)).count()
          finally w.close()
        }
        val clone = time(s"SHALLOW CLONE ($nFiles files, 0 bytes copied)")(
          d.shallowCloneTo(cloneRoot))
        require(clone.rowsCount == nRows, "clone row count drift")
        val deep = LakeDataset.fromStorage(spark, srcRoot)
        deep.storage = Some(StorageSpec(deepRoot))
        time(s"deep copy (full rewrite) ${copies}x")(deep.toStorage())
        // Clone mutation touches only the clone (isolation probe).
        time("clone-side delete 1 cell") {
          clone.deleteWhere(col("o_batch") === 0)
        }
        require(LakeDataset.fromStorage(spark, srcRoot).rowsCount == nRows,
          "clone mutation leaked into source")
      } finally Seq(srcRoot, cloneRoot, deepRoot).foreach(r =>
        LakeDataset.deleteRecursively(java.nio.file.Paths.get(r)))

      // ANALYZE: untight cells (after a predicate delete) regain the
      // metadata vouch with a READ pass over ONLY those cells — vs
      // OPTIMIZE (materialize) which rewrites.
      {
        val d = LakeDataset.fromDataFrame(spark, mo11,
          partitionCols = Seq("o_batch"))
        val untight = time("predicate delete (untightens cells)") {
          d.deleteWhere(col("o_custkey") % 97 === 0)
        }
        println(s"[scale] untight cells after delete: $untight of ${d.numParts}")
        val analyzed = time("ANALYZE (read pass, untight only)")(d.analyze())
        require(analyzed == untight, s"analyzed $analyzed, expected $untight")
        require(d.metaStats(Seq("o_custkey")).isDefined, "vouch not restored")
        time("metadata count+min+max after ANALYZE") {
          d.metaStats(Seq("o_custkey")).get
        }
      }

      // Drift-only RESTORE: the logged volume is O(drift), not O(table) —
      // restore after touching ~1/50 of rows logs ~2/50, not 2 full tables.
      {
        val base = LakeDataset.fromDataFrame(spark, mo11,
          partitionCols = Seq("o_orderstatus"))
        val t = TrackedLake(spark, base, logBase = true)
        val mark = t.currentSeq
        t.upsert(mo11.filter(col("o_orderkey") % 50 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 999),
          Seq("o_orderkey"))
        val logBefore = t.log.rowsCount
        time(s"drift-only RESTORE (${copies}x table, 1/50 touched)") {
          t.restore(mark, Seq("o_orderkey"))
        }
        val logged = t.log.rowsCount - logBefore
        println(f"[scale] restore logged $logged rows = ${logged.toDouble / nRows}%.3f" +
          s" of table ($nRows)")
        require(logged < nRows / 10, "restore logged O(table), not O(drift)")
      }
      // Targeted MV maintenance: when the mutation predicate AND the
      // touched-group recompute both prune (here: the view groups by the
      // table's bucket axis, so the IN-list prefilter of the few touched
      // groups skips every other bucket cell), a predicate UPDATE
      // maintains the view at touched-cell cost — the timing includes the
      // update itself, and must land well under the full REFRESH (rebuild)
      // it replaced. Also: MV save = O(groups), load = no base scan.
      {
        val db = new graft.lake.Database(spark)
        db.register("mvt_scale", LakeDataset.fromDataFrame(spark,
          mo11.withColumn("g", col("o_custkey") % 10000),
          bucketCols = Seq("g"), nBuckets = 16))
        time("CREATE MV (10k groups, full build)")(db.executeDml(
          """CREATE MATERIALIZED VIEW mvt_v AS
            |SELECT g, COUNT(*) AS n, SUM(o_totalprice) AS total,
            |       MAX(o_totalprice) AS mx
            |FROM mvt_scale GROUP BY g""".stripMargin))
        val groups = spark.sql("SELECT COUNT(*) AS n FROM mvt_v").head().getLong(0)
        time(s"targeted UPDATE (1 of $groups groups, bucket-pruned)")(
          db.executeDml(
            "UPDATE mvt_scale SET o_totalprice = o_totalprice + 1 WHERE g = 77"))
        time("full REFRESH (the rebuild it replaced)")(
          db.executeDml("REFRESH MATERIALIZED VIEW mvt_v"))
        val mvRoot = java.nio.file.Files.createTempDirectory("graft_r12_mv").toString
        try {
          time(s"MV save ($groups groups)")(db.saveMaterializedViews(mvRoot))
          val db2 = new graft.lake.Database(spark)
          db2.register("mvt_scale", db.get("mvt_scale").get)
          time("MV load (no base scan)")(db2.loadMaterializedViews(mvRoot))
        } finally LakeDataset.deleteRecursively(java.nio.file.Paths.get(mvRoot))
        db.executeDml("DROP MATERIALIZED VIEW mvt_v")
      }
      mo11.unpersist(true)
    }

    // ---- HLL sketch collapse at ~100-part scale ----------------------------
    // The claim: a tracked column's approx-distinct answers from the CATALOG
    // (union of ~100 per-part 1.5 KiB sketches — O(parts) driver work, zero
    // scan tasks) and matches the distributed hll_sketch_agg scan exactly,
    // at any table size — the fold cost tracks PART COUNT, not bytes.
    if (on("r12")) {
      val mo12 = (0 until copies).map { i =>
        spark.read.parquet(s"$sfDir/orders.parquet")
          .withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 10000000L))
      }.reduce(_ unionByName _)
        .withColumn("o_batch", (col("o_orderkey") / 15000L).cast("int"))
        .localCheckpoint(true)
      println(s"[scale] r12 orders: ${mo12.count()} rows (${copies}x)")
      val d = time("create sketch-tracked (~100 parts)") {
        LakeDataset.fromDataFrame(spark, mo12,
          partitionCols = Seq("o_batch"), sketchCols = Seq("o_custkey"))
      }
      println(s"[scale] sketch dataset parts: ${d.numParts}")
      val metaEst = time(s"catalog approx-distinct (${d.numParts}-part fold)") {
        d.metaApproxDistinct(Seq("o_custkey")).get("o_custkey")
      }
      val scanEst = time("scan hll_sketch_agg (distributed)") {
        d.toDF.agg(hll_sketch_estimate(
          hll_sketch_agg(col("o_custkey"), lit(12)))).head().getLong(0)
      }
      require(metaEst == scanEst,
        s"catalog fold $metaEst != scan estimate $scanEst")
      // The SQL surface rides the same collapse (GraftExtensions rule):
      // the aggregate plans to a LocalRelation, no scan stage at all.
      val db12 = new graft.lake.Database(spark)
      db12.register("orders_hll", d)
      val sqlEst = time("SQL hll collapse (LocalRelation)") {
        spark.sql("SELECT hll_sketch_estimate(hll_sketch_agg(o_custkey)) " +
          "FROM orders_hll").head().getLong(0)
      }
      require(sqlEst == metaEst, s"SQL collapse $sqlEst != catalog $metaEst")
    }

    // ---- R12b: substring dedup + multi-table transactions at scale --------
    // stripDuplicateSpans claim: the only wide work is one gram aggregation
    // + one gram join, and ONLY documents that lose tokens pay the token
    // regroup — measured on a worst case (every copy duplicates every span)
    // and a realistic 5%-duplication corpus.
    // Transaction claim: begin/commit/rollback are driver-side metadata ops
    // whose cost tracks PART COUNT, not table bytes — a rollback over a
    // ~100-part table restores counters, stats and computable plans.
    if (on("r12b")) {
      import graft.lake.Database
      val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
      val bigDocs12 = (0 until copies).map { i =>
        docs0.select((col("doc_id") + lit(i.toLong * 1000000L)).as("doc_id"),
          col("text"))
      }.reduce(_ unionByName _).localCheckpoint(true)
      println(s"[scale] r12b docs: ${bigDocs12.count()} (${copies}x — every " +
        "copy past the first is 100% duplicated spans)")
      time(s"strip duplicate spans ${copies}x worst-case (all docs touched)") {
        graft.operators.Dedup.stripDuplicateSpans(bigDocs12, "text", "doc_id", 6)
          .agg(sum("tokens_removed")).head()
      }
      val mostlyClean = docs0.select(col("doc_id"), col("text")).unionByName(
        docs0.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
        .localCheckpoint(true)
      time("strip duplicate spans 5%-dup corpus (touched-docs-only regroup)") {
        graft.operators.Dedup.stripDuplicateSpans(mostlyClean, "text", "doc_id", 6)
          .agg(sum("tokens_removed")).head()
      }

      val mo12b = (0 until copies).map { i =>
        spark.read.parquet(s"$sfDir/orders.parquet")
          .withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 10000000L))
      }.reduce(_ unionByName _)
        .withColumn("o_batch", (col("o_orderkey") / 15000L).cast("int"))
        .localCheckpoint(true)
      val txA = LakeDataset.fromDataFrame(spark, mo12b,
        partitionCols = Seq("o_batch"))
      val txB = LakeDataset.fromDataFrame(spark, mo12b.limit(0))
      val db12b = new Database(spark)
      db12b.register("tx_big_a", txA)
      db12b.register("tx_big_b", txB)
      println(s"[scale] tx table parts: ${txA.numParts}")
      time(s"tx commit: move a key slice across ${txA.numParts}-part tables") {
        db12b.transaction(Seq("tx_big_a", "tx_big_b")) {
          txA.delete(mo12b.filter(col("o_orderkey") % 1000 === 0)
            .select("o_orderkey"), Seq("o_orderkey"))
          txB.insert(mo12b.filter(col("o_orderkey") % 1000 === 0))
        }
      }
      val beforeRows = txA.rowsCount
      // Time the ROLLBACK alone: the aborted body's mutation jobs are real
      // work any transaction pays; the atomicity overhead is what remains.
      var bodyNanos = 0L
      val t0All = System.nanoTime
      try db12b.transaction(Seq("tx_big_a", "tx_big_b")) {
        val t0 = System.nanoTime
        txA.delete(mo12b.filter(col("o_orderkey") % 7 === 0)
          .select("o_orderkey"), Seq("o_orderkey"))
        txB.insert(mo12b.limit(1000))
        bodyNanos = System.nanoTime - t0
        throw new RuntimeException("abort")
      } catch { case e: RuntimeException if e.getMessage == "abort" => () }
      val totalS = (System.nanoTime - t0All) / 1e9
      println(f"[scale] tx aborted: body ${bodyNanos / 1e9}%.2fs, " +
        f"begin+rollback ${totalS - bodyNanos / 1e9}%.2fs " +
        f"(state swap over ${txA.numParts} parts)")
      require(txA.rowsCount == beforeRows,
        "rollback did not restore the row counter")
      time("read after rollback (restored plans computable)") {
        txA.toDF.agg(count(lit(1))).head()
      }
    }

    // ---- R12c: GK quantile summaries at ~100 parts -------------------------
    // Claim: the catalog fold answers approx quantiles in O(parts) driver
    // work (zero scan jobs), within the GK rank bound of the true quantile;
    // the alternative is a full percentile_approx scan.
    if (on("r12c")) {
      val mo12c = (0 until copies).map { i =>
        spark.read.parquet(s"$sfDir/orders.parquet")
          .withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 10000000L))
      }.reduce(_ unionByName _)
        .withColumn("o_batch", (col("o_orderkey") / 15000L).cast("int"))
        .localCheckpoint(true)
      val n12c = mo12c.count()
      println(s"[scale] r12c orders: $n12c rows (${copies}x)")
      val dq = time("create quantile-tracked (~100 parts)") {
        LakeDataset.fromDataFrame(spark, mo12c,
          partitionCols = Seq("o_batch"), quantileCols = Seq("o_totalprice"))
      }
      println(s"[scale] quantile dataset parts: ${dq.numParts}")
      val qs12c = Seq(0.5, 0.95, 0.99)
      val metaQ = time(s"catalog approx-quantile (${dq.numParts}-part fold)") {
        dq.metaApproxQuantile(Seq("o_totalprice"), qs12c).get("o_totalprice")
      }
      // second fold: the first call pays one-time class loading
      time(s"catalog approx-quantile (warm)") {
        dq.metaApproxQuantile(Seq("o_totalprice"), qs12c).get("o_totalprice")
      }
      val scanQ = time("scan percentile_approx (distributed)") {
        dq.toDF.agg(percentile_approx(col("o_totalprice"),
          array(qs12c.map(lit): _*), lit(10000))).head()
          .getSeq[Double](0)
      }
      // Both answer within the rank bound of the truth; check the catalog's
      // answers against the exact CDF in one scan.
      val rankAggs = qs12c.zip(metaQ).map { case (q, v) =>
        (sum(when(col("o_totalprice") <= lit(v), 1L).otherwise(0L))
          .cast("double") / lit(n12c.toDouble)).as(s"r${(q * 100).toInt}")
      }
      val ranks = dq.toDF.agg(rankAggs.head, rankAggs.tail: _*).head()
      qs12c.zipWithIndex.foreach { case (q, i) =>
        val err = math.abs(ranks.getDouble(i) - q)
        println(f"[scale] q=$q catalog=${metaQ(i)}%.2f scan=${scanQ(i)}%.2f " +
          f"rankErr=$err%.4f")
        require(err <= 2 * graft.lake.QuantileMap.Eps + 2.0 / n12c,
          s"catalog quantile q=$q out of bound: rank error $err")
      }
    }

    // ---- R12d: MG frequent-items sketches at ~100 parts ---------------------
    // Claim: the catalog fold answers top-k values in O(parts·k) driver work
    // (zero scan jobs); in the exact regime (cardinality ≤ 64) the counts
    // equal a full groupBy-count scan's.
    if (on("r12d")) {
      val mo12d = (0 until copies).map { i =>
        spark.read.parquet(s"$sfDir/orders.parquet")
          .withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 10000000L))
      }.reduce(_ unionByName _)
        .withColumn("o_batch", (col("o_orderkey") / 15000L).cast("int"))
        .localCheckpoint(true)
      val n12d = mo12d.count()
      println(s"[scale] r12d orders: $n12d rows (${copies}x)")
      val df12d = time("create freq-tracked (~100 parts)") {
        LakeDataset.fromDataFrame(spark, mo12d,
          partitionCols = Seq("o_batch"), freqCols = Seq("o_orderstatus"))
      }
      println(s"[scale] freq dataset parts: ${df12d.numParts}")
      val metaT = time(s"catalog top-k (${df12d.numParts}-part fold)") {
        df12d.metaTopK(Seq("o_orderstatus"), 5).get("o_orderstatus")
      }
      time("catalog top-k (warm)") {
        df12d.metaTopK(Seq("o_orderstatus"), 5).get("o_orderstatus")
      }
      val scanT = time("scan groupBy-count top-k (distributed)") {
        df12d.toDF.groupBy("o_orderstatus").count()
          .orderBy(desc("count"), col("o_orderstatus")).limit(5)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      }
      println(s"[scale] catalog=$metaT")
      require(metaT.forall(_._4),
        "3-value status column must stay in the exact regime at 100 parts")
      require(metaT.map(t => t._1 -> t._2) == scanT,
        s"exact-regime catalog top-k must equal the scan: $metaT vs $scanT")
      // The SQL surface: GROUP BY the tracked column plans as a
      // LocalRelation over the same fold — zero scan tasks at 213 parts.
      val dbF = new graft.lake.Database(spark)
      dbF.register("freq_scale", df12d)
      val qSql = spark.sql(
        "SELECT o_orderstatus, COUNT(*) AS n FROM freq_scale GROUP BY o_orderstatus")
      require(qSql.queryExecution.optimizedPlan.collectLeaves().forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
        "SQL GROUP BY over the freq column must collapse at scale")
      val sqlT = time("SQL GROUP BY collapse (LocalRelation)") {
        qSql.collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(-_._2).toSeq
      }
      require(sqlT == scanT.sortBy(-_._2), s"SQL collapse must equal the scan: $sqlT")
    }

    // ---- R12e: continuation operators at 20x corpus ------------------------
    // Claims: phash dedup candidates stay Σ bucket² (wall clock tracks the
    // duplicate set, not |media|²); chunking is a narrow map (scales with
    // output rows, no shuffle); BPE rounds are vocabulary-bound (flat as the
    // corpus multiplies — the word-count reduction absorbs the growth).
    if (on("r12e")) {
      import spark.implicits._
      import graft.operators.{Bpe, Multimodal, TextAnalysis}
      val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
      val docs20 = (0 until copies).map { i =>
        docs0.select((col("doc_id") + lit(i.toLong * 1000000L)).as("doc_id"),
          col("text"))
      }.reduce(_ unionByName _).localCheckpoint(true)
      val nDocs = docs20.count()
      println(s"[scale] r12e docs: $nDocs (${copies}x)")
      // phash: plant dups on one slice only — candidates bound to buckets
      val corpus = docs20.unionByName(
        docs20.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 500000000L).as("doc_id"),
            translate(col("text"), "e", "f").as("text")))
      val media = Multimodal.mediaFromDocuments(corpus)
        .as[graft.operators.Multimodal.MediaRow]
      val nPairs = time(s"phash near-dups over ${nDocs + nDocs / 50} media") {
        Multimodal.phashNearDups(media, maxHamming = 3).count()
      }
      println(s"[scale] phash pairs: $nPairs")
      require(nPairs >= nDocs / 50,
        "every planted perturbed replay must pair with its original")
      val nChunks = time(s"chunk $nDocs docs (32/24 windows)") {
        TextAnalysis.chunkWords(docs20, "text", "doc_id", 32, 24).count()
      }
      println(s"[scale] chunks: $nChunks")
      val words = Bpe.wordCounts(docs20, "text").localCheckpoint(true)
      val vocab = words.count()
      val merges = time(s"BPE 4 rounds over $vocab-word vocab ($nDocs docs)") {
        Bpe.train(words, 4)
      }
      println(s"[scale] merges: $merges")
      require(merges.length == 4 && merges.head._4 > 0)
    }

    // ---- R13a: quantile + freq folds at ~1k parts ---------------------------
    // Claim: the driver-side catalog folds stay sub-second an order of
    // magnitude past the ~100-part sections above — the pairwise-tree
    // quantile reduce is O(parts·log parts) summary merges and the freq
    // fold O(parts·k) counter merges, so ~1k parts is milliseconds of
    // driver work and the ceiling (10k+ parts ≈ a 100 TB table's manifest)
    // is manifest IO, not fold CPU.
    if (on("r13a")) {
      val mo13 = (0 until copies).map { i =>
        spark.read.parquet(s"$sfDir/orders.parquet")
          .withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 10000000L))
      }.reduce(_ unionByName _)
        // 5x finer cells than R12c/d: same corpus, ~1k parts
        .withColumn("o_batch", (col("o_orderkey") / 3000L).cast("int"))
        .localCheckpoint(true)
      val n13 = mo13.count()
      println(s"[scale] r13a orders: $n13 rows (${copies}x)")
      val d13 = time("create quantile+freq-tracked (~1k parts)") {
        LakeDataset.fromDataFrame(spark, mo13,
          partitionCols = Seq("o_batch"),
          quantileCols = Seq("o_totalprice"), freqCols = Seq("o_orderstatus"))
      }
      println(s"[scale] r13a dataset parts: ${d13.numParts}")
      require(d13.numParts >= 900, s"expected ~1k parts, got ${d13.numParts}")
      val qs13 = Seq(0.5, 0.95, 0.99)
      def timed[T](label: String)(f: => T): (T, Double) = {
        val t0 = System.nanoTime(); val r = f
        val s = (System.nanoTime() - t0) / 1e9
        println(f"[scale] $label%-26s $s%8.2fs")
        (r, s)
      }
      time(s"catalog approx-quantile (${d13.numParts}-part fold, cold)") {
        d13.metaApproxQuantile(Seq("o_totalprice"), qs13).get("o_totalprice")
      }
      val (metaQ13, secQ) = timed("catalog approx-quantile (warm)") {
        d13.metaApproxQuantile(Seq("o_totalprice"), qs13).get("o_totalprice")
      }
      require(secQ < 1.0,
        f"1k-part quantile fold must stay sub-second, took $secQ%.2fs")
      // rank-bound check against the exact CDF (one scan)
      val rankAggs13 = qs13.zip(metaQ13).map { case (q, v) =>
        (sum(when(col("o_totalprice") <= lit(v), 1L).otherwise(0L))
          .cast("double") / lit(n13.toDouble)).as(s"r${(q * 100).toInt}")
      }
      val ranks13 = d13.toDF.agg(rankAggs13.head, rankAggs13.tail: _*).head()
      qs13.zipWithIndex.foreach { case (q, i) =>
        val err = math.abs(ranks13.getDouble(i) - q)
        println(f"[scale] r13a q=$q catalog=${metaQ13(i)}%.2f rankErr=$err%.4f")
        require(err <= 2 * graft.lake.QuantileMap.Eps + 2.0 / n13,
          s"1k-part catalog quantile q=$q out of bound: rank error $err")
      }
      time(s"catalog top-k (${d13.numParts}-part fold, cold)") {
        d13.metaTopK(Seq("o_orderstatus"), 5).get("o_orderstatus")
      }
      val (metaT13, secT) = timed("catalog top-k (warm)") {
        d13.metaTopK(Seq("o_orderstatus"), 5).get("o_orderstatus")
      }
      require(secT < 1.0,
        f"1k-part freq fold must stay sub-second, took $secT%.2fs")
      require(metaT13.forall(_._4),
        "3-value status column must stay in the exact regime at 1k parts")
      val scanT13 = d13.toDF.groupBy("o_orderstatus").count()
        .orderBy(desc("count"), col("o_orderstatus")).limit(5)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      require(metaT13.map(t => t._1 -> t._2) == scanT13,
        s"exact-regime 1k-part catalog top-k must equal the scan: $metaT13 vs $scanT13")
    }

    // ---- R13b: native BPE encode + pack at 20x corpus ----------------------
    // Claim: the native BpeSymbols/BpeIds expressions keep tokenize→ids→
    // pack a LINEAR narrow map (no shuffle until the pack window, which is
    // shard-partitioned): 20x documents should cost ~20x the sf0.1 gate's
    // sub-second, not the interpreted HOF fold's minutes.
    if (on("r13b")) {
      import graft.operators.{Bpe, TextAnalysis}
      val bigDocs13 = (0 until copies).map { i =>
        spark.read.parquet(s"$sfDir/documents.parquet")
          .withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L))
      }.reduce(_ unionByName _).localCheckpoint(true)
      val nd13 = bigDocs13.count()
      println(s"[scale] r13b documents: $nd13 rows (${copies}x)")
      val merges13 = Seq(("t", "a"), ("ta", "b"), ("l", "e"), ("tab", "le"), ("e", "r"))
      val symd13 = Bpe.symbolize(bigDocs13, "text", "doc_id", merges13)
      val voc13 = time("bpe vocab over 20x corpus (distinct symbols)") {
        Bpe.vocab(symd13)
      }
      val ids13 = Bpe.tokenIds(bigDocs13, "text", "doc_id", merges13, voc13)
      val totTok = time("bpe tokenIds full pass (native, no shuffle)") {
        ids13.agg(sum(col("n_tokens"))).head().getLong(0)
      }
      println(s"[scale] r13b total tokens: $totTok")
      val packs = time("packCounts on real token counts (sharded window)") {
        TextAnalysis.packCounts(ids13.select(col("doc"), col("n_tokens")),
            "doc", "n_tokens", budgetTokens = 2048, nShards = 32)
          .agg(countDistinct(col("pack"))).head().getLong(0)
      }
      println(s"[scale] r13b packs: $packs (expect ~${totTok / 2048})")
      require(packs >= totTok / 2048,
        "pack count below the token-budget floor — packing lost tokens")
      // roundtrip at scale: decode(encode) == normalized text, 0 mismatches
      val mism = time("decode roundtrip check (20x)") {
        Bpe.decode(Bpe.symbolizeMarked(bigDocs13, "text", "doc_id", merges13))
          .join(bigDocs13.select(col("doc_id").as("doc"),
            regexp_replace(trim(col("text")), " +", " ").as("norm")), "doc")
          .filter(col("rebuilt_text") =!= col("norm")).count()
      }
      require(mism == 0, s"r13b decode roundtrip mismatches: $mism")
    }

    // ---- R13c: index erasure cost vs index size ----------------------------
    // Claim: erasing k ids costs one locate probe (a scan with the key set
    // broadcast) + a rewrite of ONLY the cells that held them — never a
    // rebuild. The BM25 postings lake partitions by ingest batch (_b) on
    // top of 16 term buckets, so erasing documents from ONE ingest batch of
    // a `copies`-batch index touches ≤ 16 cells of that batch regardless of
    // how many batches the index holds: the REWRITE cost is flat while the
    // index grows `copies`×. IVF: erasing an operator-sized vector batch
    // rewrites only the lists those vectors sat in.
    if (on("r13c")) {
      import graft.operators.{Similarity, TextSearch}
      val docs0r = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      // one index, `copies` incremental ingest batches (salted per copy)
      val bmRoot = java.nio.file.Files.createTempDirectory("graft_sc_bm_rm").toString
      TextSearch.buildIndex(spark, docs0r, "text", "doc_id",
        nBuckets = 16, storage = Some(graft.model.StorageSpec(bmRoot)))
      var idx13 = TextSearch.open(spark, bmRoot)
      (1 until copies).foreach { i =>
        val batch = docs0r.select(
          (col("doc_id") + lit(i.toLong * 1000000L)).as("doc_id"),
          regexp_replace(col("text"), "\\w+", s"$$0s$i").as("text"))
        idx13 = TextSearch.addToIndex(idx13, batch, "text", "doc_id")
      }
      val cellsBefore = idx13.postings.partKeys.size
      println(s"[scale] r13c bm25 index: n=${idx13.n} cells=$cellsBefore")
      val doomed13 = docs0r.filter(col("doc_id") % 10 === 0).select("doc_id")
      val nDoomed = doomed13.count()
      val touched13 = time(s"bm25 locate probe (${nDoomed} ids vs ${copies}x index)") {
        idx13.postings.cellsHolding(
          doomed13.select(col("doc_id").as("doc")), Seq("doc")).size
      }
      require(touched13 <= 17,
        s"batch-0 erasure must stay inside batch 0's term buckets: $touched13")
      val erased13 = time(s"bm25 erase $nDoomed docs from ${copies}x index") {
        TextSearch.removeFromIndex(idx13, doomed13, "doc_id")
      }
      println(s"[scale] r13c bm25 erase: touched $touched13/$cellsBefore cells, " +
        s"n ${idx13.n} -> ${erased13.n}")
      require(erased13.n == idx13.n - nDoomed, "scalar subtraction drifted")
      LakeDataset.deleteRecursively(java.nio.file.Paths.get(bmRoot))

      // IVF: 20x vectors, erase an operator-sized batch, only its lists save
      val emb0r = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding")
      val e20 = (0 until copies).map { i =>
        emb0r.select((col("vec_id") + lit(i.toLong * 1000000L)).as("vec_id"),
          transform(col("embedding"),
            x => (x * (lit(1.0f) + lit(i.toFloat) * lit(1e-4f))).cast("float"))
            .as("embedding"))
      }.reduce(_ unionByName _).localCheckpoint(true)
      val kLists13 = 16 * math.max(1, math.sqrt(copies.toDouble).toInt)
      val ivfRoot13 = java.nio.file.Files.createTempDirectory("graft_sc_ivf_rm").toString
      val (c13, a13) = Similarity.buildIvf(e20, "embedding", "vec_id", kLists13, 64)
      Similarity.saveIvf(spark, ivfRoot13, c13, a13)
      val ivf13 = Similarity.loadIvf(spark, ivfRoot13)
      val doomedV = e20.filter(col("vec_id") % 1000 === 0).select("vec_id")
        .localCheckpoint(true)
      val nDoomedV = doomedV.count()
      time(s"ivf erase $nDoomedV vecs from ${copies}x/$kLists13-list index") {
        Similarity.removeFromIvf(ivf13, doomedV, "vec_id")
      }
      val left = Similarity.ivfListSizes(ivf13).values.sum
      println(s"[scale] r13c ivf erase: ${e20.count()} -> $left vectors")
      require(left == e20.count() - nDoomedV, "ivf erase lost or kept rows")
      LakeDataset.deleteRecursively(java.nio.file.Paths.get(ivfRoot13))
    }

    // ---- R13d: fuzzy join, LM scoring, graph ops at scale -------------------
    // Claims: (1) the SymSpell deletion join stays ∝ strings (variants are
    // a narrow map; the equi-join meets only within variant buckets);
    // (2) bigram LM scoring is one bigram-key shuffle + one doc groupBy at
    // any corpus size (the model stays vocabulary-bounded);
    // (3) degree-ordered triangle counting survives a SPARSE web-shaped
    // graph two orders past the gate (invariant-checked: Σ per-vertex
    // counts ≡ 0 mod 3, every count ≤ C(degree,2));
    // (4) the bipartite-projection hub cap bounds output where the
    // uncapped projection's Σ degree² would explode.
    if (on("r13d")) {
      import graft.operators.{Graphs, Joins, TextAnalysis}
      // (1) fuzzy join over copies× the customer names: each copy shifts
      // the key space so names are distinct but densely typo-adjacent.
      val names13 = (0 until copies).map { i =>
        spark.read.parquet(s"$sfDir/customer.parquet")
          .select(format_string("Customer#%09d",
            col("c_custkey") + lit(i.toLong * 1000000L)).as("name"))
      }.reduce(_ unionByName _).localCheckpoint(true)
      val nNames = names13.count()
      val fz = time(s"fuzzy self-join <=1 over $nNames names") {
        Joins.fuzzySelfPairs(names13, "name", maxDist = 1).count()
      }
      println(s"[scale] r13d fuzzy pairs: $fz")
      require(fz > 0, "shifted key spaces must still produce distance-1 pairs")

      // (2) LM scoring over copies× documents; model trained on the en
      // slice of the SAME corpus (vocabulary-bounded regardless of copies).
      val lmDocs = (0 until copies).map { i =>
        spark.read.parquet(s"$sfDir/documents.parquet")
          .withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L))
      }.reduce(_ unionByName _).localCheckpoint(true)
      val nLm = lmDocs.count()
      val scored = time(s"bigram LM score $nLm docs") {
        TextAnalysis.bigramLmScore(lmDocs,
          lmDocs.filter(col("lang") === "en"), "text", "doc_id").count()
      }
      require(scored == nLm,
        s"every multi-word doc must score: $scored of $nLm")

      // (3) triangles on a sparse synthetic graph: 200k vertices, 5
      // pseudo-random out-edges each (≈1M edges) — web-graph sparsity.
      val nV = 200000L
      val sparse = spark.range(nV).select(col("id").as("a"),
          explode(array((1 to 5).map(j =>
            pmod(col("id") * 131L + lit(j * 65537L), lit(nV))): _*)).as("b"))
        .filter(col("a") =!= col("b"))
      val triD = time("triangleCounts on 1M-edge sparse graph") {
        Graphs.triangleCounts(sparse, "a", "b").localCheckpoint(true)
      }
      val triTotal = triD.agg(sum("triangles")).head().getLong(0)
      println(s"[scale] r13d triangle participations: $triTotal")
      require(triTotal % 3 == 0,
        s"per-vertex counts must sum to 3x the triangle count: $triTotal")
      val degD = Graphs.degrees(
        sparse.select(least(col("a"), col("b")).as("a"),
            greatest(col("a"), col("b")).as("b"))
          .filter(col("a") =!= col("b")).distinct(), "a", "b")
      val over = triD.join(degD, "v")
        .filter(col("triangles") > col("degree") * (col("degree") - 1) / 2)
        .count()
      require(over == 0, s"$over vertices exceed the C(degree,2) ceiling")

      // (4) hub cap: co-purchase projection at copies× users — uncapped
      // Σ degree² grows ∝ copies², the capped projection stays bounded.
      val bip13 = (0 until copies).map { i =>
        spark.read.parquet(s"$sfDir/events.parquet")
          .filter(col("event_type") === "purchase")
          .select((col("user_id") + lit(i.toLong * 1000000L)).as("user_id"),
            get_json_object(col("props"), "$.k").cast("long").as("item"))
      }.reduce(_ unionByName _).localCheckpoint(true)
      // The uncapped join's candidate volume is Σ C(degree,2) over items —
      // ONE aggregate predicts it (an earlier run MEASURED it: 357.6M rows,
      // 650 s; the prediction below matched). Don't pay it to prove it.
      val predicted = bip13.distinct()
        .groupBy("item").agg(count(lit(1)).as("d"))
        .agg(sum(expr("d * (d - 1) div 2"))).head().getLong(0)
      val capped = time(s"projectBipartite (cap 50) over ${copies}x purchases") {
        Graphs.projectBipartite(bip13, "user_id", "item", maxRightDegree = 50)
          .count()
      }
      println(s"[scale] r13d projection: capped=$capped edges, " +
        s"uncapped candidate volume=$predicted")

      // (5) personalized PageRank on the same 1M-edge sparse graph:
      // 3 iterations = 3 joins + 3 groupBys regardless of graph size;
      // seed mass must stay on the seeds' reachable set.
      val sparseW = sparse.withColumn("w", lit(1L))
      val seeds13 = spark.range(0, nV, 1000).select(col("id"))
      val ppr = time("personalized PageRank, 3 iters, 1M edges") {
        Graphs.personalizedPageRankInt(sparseW, "a", "b", "w",
          seeds13, "id", iters = 3, checkpointEach = true).localCheckpoint(true)
      }
      val pprStats = ppr.agg(
        sum(when(col("pr") > 0, 1L).otherwise(0L)),
        sum(col("pr"))).head()
      println(s"[scale] r13d ppr: ${pprStats.getLong(0)} reached of $nV, " +
        s"mass=${pprStats.getLong(1)}")
      require(pprStats.getLong(0) > 0, "seeds must reach someone")
      // truncation only ever LOSES mass: total <= seeds * scale
      require(pprStats.getLong(1) <= (nV / 1000 + 1) * 1000000L,
        "PPR mass exceeded the teleport budget — integer walk broke")

      // (6) theta overlap over copies× events: sketch size is CONSTANT in
      // corpus size (4096 retained hashes), so the overlap answer costs
      // one pass + k-row algebra at ANY scale.
      import graft.functions.ThetaAgg
      val ev13 = (0 until copies).map { i =>
        spark.read.parquet(s"$sfDir/events.parquet")
          .select((col("user_id") + lit(i.toLong * 1000000L)).as("user_id"),
            col("event_type"))
      }.reduce(_ unionByName _).localCheckpoint(true)
      val thetaRow = time(s"theta overlap over ${copies}x events") {
        ev13.filter(col("event_type").isin("view", "purchase"))
          .groupBy("event_type").agg(ThetaAgg.sketch(col("user_id")).as("sk"))
          .agg(
            ThetaAgg.unionAgg(when(col("event_type") === "view", col("sk"))).as("sv"),
            ThetaAgg.unionAgg(when(col("event_type") === "purchase", col("sk"))).as("sp"))
          .select(
            ThetaAgg.estimate(col("sv")).as("v"),
            ThetaAgg.intersectEstimate(col("sv"), col("sp")).as("i"))
          .head()
      }
      val exactViewers = ev13.filter(col("event_type") === "view")
        .select("user_id").distinct().count()
      val err = math.abs(thetaRow.getDouble(0) - exactViewers) / exactViewers.toDouble
      println(f"[scale] r13d theta: viewers=${thetaRow.getDouble(0)}%.0f " +
        f"exact=$exactViewers err=${err * 100}%.2f%% overlap=${thetaRow.getDouble(1)}%.0f")
      require(err < 0.05, f"theta viewer estimate off by ${err * 100}%.1f%%")

      // (7) zero-scan retention: the catalog's per-cell THETA twins (r14 —
      // first-class intersection; the r13 HLL inclusion-exclusion is the
      // pre-theta fallback) answer the full pairwise partition-overlap
      // matrix with NO Spark jobs — vs the exact one-join scan over the
      // same 20x corpus. Past nominal entries (they are here) the answer
      // degrades to ~1/√k honest-approximate; the error bound below pins it.
      val ovDs = LakeDataset.fromDataFrame(spark,
        ev13.withColumn("event_id", monotonically_increasing_id()),
        partitionCols = Seq("event_type"),
        bucketCols = Seq("user_id"), nBuckets = 5,
        sketchCols = Seq("user_id"))
      val ovMeta = time("catalog overlap matrix (zero scan jobs)") {
        ovDs.metaPartitionOverlap("user_id", "event_type").get
      }
      val ovScan = time("exact overlap matrix (distinct + self-join scan)") {
        val d = ev13.select(col("event_type").as("g"), col("user_id").as("u")).distinct()
        d.select(col("g").as("ga"), col("u"))
          .join(d.select(col("g").as("gb"), col("u")), "u")
          .filter(col("ga") < col("gb"))
          .groupBy("ga", "gb").agg(count(lit(1)).as("b")).collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      }
      val ovErrs = ovMeta.map { case (a, b, _, _, both) =>
        val ex = ovScan.getOrElse((a, b), 0L)
        if (ex == 0) 0.0 else math.abs(both - ex).toDouble / ex
      }
      println(f"[scale] r13d catalog overlap: ${ovMeta.length} pairs, " +
        f"max err ${ovErrs.max * 100}%.2f%% vs exact")
      require(ovErrs.max < 0.10,
        f"catalog overlap error ${ovErrs.max * 100}%.1f%% exceeds 10%%")
      // At copies×20 every item is a hub (~380 distinct buyers each), so
      // the cap drops them ALL — the degenerate-projection guard working
      // as designed — while the uncapped candidate volume sits in the
      // hundreds of millions.
      require(capped == 0, s"every item out-degrees the cap at 20x: $capped")
      require(predicted > 100000000L,
        s"uncapped candidate volume should exceed 1e8 at 20x: $predicted")
    }

    // ---- r14: write/commit-path scale probes -------------------------------
    // (1) one-pass staged rewrite vs per-part save at a cell count where the
    //     per-cell fixed job cost dominates;
    // (2) optimistic rebase: two stale handles over a many-cell root commit
    //     DISJOINT work without rerunning (fingerprint diff cost at 100s of
    //     cells is driver-side milliseconds);
    // (3) directed PageRank on the 1M-edge sparse graph — per-iteration plan
    //     is one join + one groupBy + one dangling tree-reduce, graph-size
    //     independent;
    // (4) index erasure cost vs a copies× index: removing a handful of docs
    //     must track their touched cells, not the corpus.
    if (on("r14")) {
      import graft.model.StorageSpec
      // (1) + (2): a 64-cell stored table, every cell mutated.
      val o14 = (0 until copies).map { i =>
        spark.read.parquet(s"$sfDir/orders.parquet")
          .withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 10000000L))
      }.reduce(_ unionByName _)
        .withColumn("o_cell", pmod(col("o_orderkey"), lit(64)).cast("int"))
        .localCheckpoint(true)
      val root14 = java.nio.file.Files.createTempDirectory("graft_r14_save").toString
      val ds14 = LakeDataset.fromDataFrame(spark, o14,
        partitionCols = Seq("o_cell"), storage = Some(StorageSpec(root14)))
      time(s"r14 initial save (${ds14.numParts} cells)")(ds14.toStorage())
      val h1 = LakeDataset.fromStorage(spark, root14)
      h1.deleteWhere(col("o_orderkey") % 97 === 0) // touches every cell
      spark.conf.set("spark.graft.lake.onePassSaveMinCells", "1000000")
      time(s"r14 per-part save (${h1.partKeys.length} cells)") {
        h1.saveParts(h1.partKeys)
      }
      val h2 = LakeDataset.fromStorage(spark, root14)
      h2.deleteWhere(col("o_orderkey") % 89 === 0)
      spark.conf.unset("spark.graft.lake.onePassSaveMinCells")
      time(s"r14 ONE-PASS save (${h2.partKeys.length} cells)") {
        h2.saveParts(h2.partKeys)
      }
      val expect14 = o14.filter(col("o_orderkey") % 97 =!= 0 &&
        col("o_orderkey") % 89 =!= 0).count()
      require(LakeDataset.fromStorage(spark, root14).rowsCount == expect14,
        "one-pass rewrite must persist exactly the surviving rows")
      // (2) rebase: two fresh handles, DISJOINT partitions, interleaved
      // commits — the second must merge, not abort, not rerun.
      val wA = LakeDataset.fromStorage(spark, root14)
      val wB = LakeDataset.fromStorage(spark, root14)
      wA.deleteWhere(col("o_cell") === 3 && col("o_orderkey") % 11 === 0)
      wA.saveParts(wA.partKeys.filter(_.partValues.contains("o_cell" -> "3")))
      wB.deleteWhere(col("o_cell") === 40 && col("o_orderkey") % 11 === 0)
      time("r14 stale-handle REBASE commit (64-cell root)") {
        wB.saveParts(wB.partKeys.filter(_.partValues.contains("o_cell" -> "40")))
      }
      val r14r = LakeDataset.fromStorage(spark, root14)
      require(r14r.toDF.filter(col("o_cell") === 3 &&
        col("o_orderkey") % 11 === 0).count() == 0, "writer A's commit lost")
      require(r14r.toDF.filter(col("o_cell") === 40 &&
        col("o_orderkey") % 11 === 0).count() == 0, "writer B's rebase lost")
      LakeDataset.deleteRecursively(java.nio.file.Paths.get(root14))

      // (3) directed PageRank on the same web-shaped sparse graph as r13d.
      val nV14 = 200000L
      val sparse14 = spark.range(nV14).select(col("id").as("a"),
          explode(array((1 to 5).map(j =>
            pmod(col("id") * 131L + lit(j * 65537L), lit(nV14))): _*)).as("b"))
        .filter(col("a") =!= col("b"))
      val dpr = time("r14 directed PageRank, 3 iters, 1M edges") {
        graft.operators.Graphs.pageRankDirectedInt(sparse14, "a", "b", iters = 3)
          .localCheckpoint(true)
      }
      val dprStats = dpr.agg(count(lit(1)), min("pr"), sum("pr")).head()
      println(s"[scale] r14 directed pr: ${dprStats.getLong(0)} vertices, " +
        s"min=${dprStats.getLong(1)}, mass=${dprStats.getLong(2)}")
      // every vertex holds at least the teleport constant; integral
      // truncation only LOSES mass vs the n*scale invariant
      require(dprStats.getLong(1) >= 150000L, "teleport floor violated")
      require(dprStats.getLong(2) <= dprStats.getLong(0) * 1000000L,
        "directed walk created mass — integer grid broke")
    }

    // ---- R14B: second wave — k-core / negatives / split / drift at 20× ----
    if (on("r14b")) {
      // (1) k-core on the web-shaped 1M-edge graph: peeling is a degree
      // aggregate + two semi-joins per round on a strictly shrinking edge
      // table; every survivor must hold >= k in-core neighbors.
      // Out-degree varies 1..9 by id (uniform 5-regular graphs have no
      // sub-k vertices to peel — the k-core would be the whole graph).
      // Scales with COPIES: 200k vertices / ~1M edges at the default 20×,
      // 1M vertices / ~5M edges at COPIES=100.
      val nV14b = 10000L * copies
      val sparse14b = spark.range(nV14b)
        .select(col("id").as("a"),
          explode(sequence(lit(1L), pmod(col("id"), lit(9L)) + 1L)).as("j"))
        .select(col("a"),
          pmod(col("a") * 131L + col("j") * 65537L, lit(nV14b)).as("b"))
        .filter(col("a") =!= col("b"))
      val core = time("r14b 6-core, 1M edges") {
        graft.operators.Graphs.kCore(sparse14b, "a", "b", k = 6)
          .localCheckpoint(true)
      }
      val cs = core.agg(count(lit(1)), min("core_deg")).head()
      println(s"[scale] r14b 6-core: ${cs.getLong(0)} of $nV14b vertices, " +
        s"min in-core degree ${if (cs.getLong(0) == 0L) -1 else cs.getLong(1)}")
      require(cs.getLong(0) == 0L || cs.getLong(1) >= 6L,
        "k-core returned a vertex below k in-core neighbors")

      // (2) contrastive negatives: per-shard windows + one equi-join —
      // no global sort, no cartesian; every anchor draws exactly k.
      val anchors14 = spark.range(3000000L).select(col("id").as("doc_id"))
        .localCheckpoint(true)
      val nNeg = time("r14b negativePairs k=4, 3M anchors, 256 shards") {
        graft.operators.Sampling.negativePairs(anchors14, "doc_id",
          k = 4, shards = 256).count()
      }
      println(s"[scale] r14b negatives: $nNeg pairs")
      require(nNeg == 3000000L * 4L, "every anchor must draw exactly k")

      // (3) leak-proof split over 3M docs with 30k planted near-dup pairs:
      // the pair table is ∝ duplicates, the split a narrow md5 filter; no
      // cluster may straddle train/val.
      val pairs14 = spark.range(0L, 3000000L, 100L)
        .select(col("id").as("doc_a"), (col("id") + 1L).as("doc_b"))
      val split14 = time("r14b leakproofSplit, 3M docs, 30k pairs") {
        graft.operators.Sampling.leakproofSplit(anchors14, pairs14,
          "doc_id", "3fff").localCheckpoint(true)
      }
      val straddle = pairs14
        .join(split14.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
        .join(split14.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
        .filter(col("sa") =!= col("sb")).count()
      val valN = split14.filter(col("split") === "val").count()
      println(s"[scale] r14b split: $valN val of 3M, $straddle straddling pairs")
      require(straddle == 0L, "a near-dup cluster straddled the split")
      require(valN > 600000L && valN < 900000L, "0x3fff ≈ 25% val drifted")

      // (4) snapshot drift at 3M vs 2M rows: two independent narrow scans
      // + a 12-row merge; the report is exact integers.
      val beforeBig = anchors14.select((col("doc_id") % 997L).as("v"))
      val afterBig = anchors14.filter(col("doc_id") % 3 =!= 0)
        .select((col("doc_id") % 1013L).as("v"))
      val dd = time("r14b histogramDrift, 3M vs 2M rows") {
        graft.operators.DataQuality.histogramDrift(
          beforeBig, afterBig, col("v"), 100L, 12).collect()
      }
      val totalDev = dd.map(r =>
        BigInt(r.getAs[java.math.BigDecimal]("dev").toBigInteger)).sum
      println(s"[scale] r14b drift: ${dd.length} bins, total dev $totalDev")
      require(totalDev > 0, "a reshaped snapshot must register drift")
    }

    // ---- R14C: third wave — prefix set-sim / ts grid / tar import at 20× ---
    if (on("r14c")) {
      // (1) prefix-filter set-similarity join on a corpus engineered so the
      // naive any-shared-shingle join is quadratic: every doc opens with the
      // same 9-word boilerplate (those shingles have df == corpus size); the
      // discriminating signal is 3 rare trailing tokens. The prefix filter
      // pays candidates only on each doc's RAREST shingles, so the planted
      // near-dups surface without ever joining on the boilerplate. The
      // quadratic volume the naive join would pay is PREDICTED from one
      // aggregate (Σ df·(df−1)/2), not paid.
      val nDocs14c = 10000L * copies
      val m14c = nDocs14c * 2
      val base14c = spark.range(nDocs14c).select(col("id").as("doc_id"),
        concat(lit("the quick brown fox jumps over the lazy dog tok"),
          pmod(col("id") * 7L, lit(m14c)), lit(" tok"),
          pmod(col("id") * 13L + 5L, lit(m14c)), lit(" tok"),
          pmod(col("id") * 29L + 11L, lit(m14c))).as("text"))
      val planted14c = base14c.filter(col("doc_id") % 100L === 0L)
        .select((col("doc_id") + nDocs14c * 10L).as("doc_id"),
          concat(col("text"), lit(" trailer")).as("text"))
      val corpus14c = base14c.unionByName(planted14c).localCheckpoint(true)
      val shingleTable = graft.operators.Dedup.shingleRows(corpus14c, "text", "doc_id", 3)
      val naiveVolume = shingleTable.groupBy("s").agg(count(lit(1)).as("df"))
        .agg(sum(col("df") * (col("df") - 1L) / 2L)).head().getAs[Any](0)
      println(s"[scale] r14c naive any-shingle join volume (predicted, NOT paid): $naiveVolume")
      val pairs14c = time(s"r14c setSimJoinPrefix, ${nDocs14c + nDocs14c / 100} docs") {
        graft.operators.Dedup.setSimJoinPrefix(corpus14c, "text", "doc_id",
          shingleSize = 3, threshold = 0.8).localCheckpoint(true)
      }
      val nPlantedFound = pairs14c
        .filter(col("doc_b") - col("doc_a") === nDocs14c * 10L).count()
      println(s"[scale] r14c pairs: ${pairs14c.count()} total, " +
        s"$nPlantedFound of ${nDocs14c / 100} planted")
      require(nPlantedFound == nDocs14c / 100,
        "prefix filter missed a planted near-dup — completeness violated")

      // (2) dense-grid time series at 20×: 100k sparse per-key series →
      // upsample to the dense grid, forward-fill, interpolate. The unit of
      // parallelism is the KEY; all three ops share one (key, ts) exchange.
      val nKeys14c = 5000L * copies
      val obs14c = spark.range(nKeys14c).select(col("id").as("k"),
          explode(sequence(lit(0L), lit(14L))).as("j"))
        .select(col("k"),
          timestamp_seconds(lit(1704067200L) +
            pmod(col("k") * 31L + col("j") * 170000L, lit(60L)) * 86400L).as("day"),
          (pmod(col("k") + col("j") * 7L, lit(1000L)) + 1L).as("v"))
        .groupBy("k", "day").agg(max("v").as("v")).localCheckpoint(true)
      val nObs = obs14c.count()
      val up14c = time(s"r14c upsample ($nKeys14c keys, $nObs obs)") {
        graft.operators.TimeSeries.upsample(obs14c, "k", "day", 86400L)
          .localCheckpoint(true)
      }
      val nGrid = up14c.count()
      val interp14c = time(s"r14c interpolate ($nGrid grid rows)") {
        graft.operators.TimeSeries.interpolateLinear(up14c, "k", "day", "v")
          .localCheckpoint(true)
      }
      val unfilled = interp14c.filter(col("v").isNull).count()
      println(s"[scale] r14c grid: $nObs obs -> $nGrid ticks, $unfilled unfilled")
      require(unfilled == 0L,
        "grid spans run min..max per key — every gap is interior and must fill")
      require(nGrid >= nObs, "the dense grid cannot be smaller than the observations")

      // (3) WebDataset tar round trip at 20×: 32 shards, one task each on
      // both sides; the reader must reproduce ids and payload bytes exactly.
      // ~1 KB per member: 0.5 GB of tar at the default 20×, ~2.6 GB at
      // COPIES=100 — the multi-GB shard-shaped round trip.
      val nWds = 25000L * copies
      val wdsDocs = spark.range(nWds).select(col("id").as("doc_id"),
        concat(lit("sample payload for document "), col("id"),
          repeat(lit(" padded with a deterministic sentence for realistic member sizes"), 15))
          .as("text"))
      val wdsRoot = java.nio.file.Files.createTempDirectory("graft_wds_scale").toString
      val manifest14c = time(s"r14c webdatasetWrite ($nWds docs, 32 shards)") {
        graft.operators.Export.webdatasetWrite(wdsDocs, "doc_id", "text", 32, wdsRoot)
      }
      val back14c = time(s"r14c webdatasetRead (32 tasks)") {
        graft.operators.Export.webdatasetRead(spark, wdsRoot)
          .agg(count(lit(1)), sum("doc_id"), sum(length(col("text")))).head()
      }
      val expect14c = wdsDocs
        .agg(count(lit(1)), sum("doc_id"), sum(length(col("text")))).head()
      println(s"[scale] r14c tar round trip: ${back14c.getLong(0)} docs, " +
        s"${manifest14c.agg(sum("n_bytes")).head().getLong(0)} bytes")
      require(back14c == expect14c, "tar round trip must be exact")
      LakeDataset.deleteRecursively(java.nio.file.Paths.get(wdsRoot))
    }

    // ---- R15: RECALL at scale — the quality curve, not the cost curve -----
    // The per-round gates pin recall at sf0.01; this section tracks it at
    // COPIES× so a quantizer that happens to hold at small corpora but
    // collapses as lists fill (or as LSH buckets saturate) is caught here.
    if (on("r15")) {
      import graft.operators.{Dedup, Similarity}
      // (1) IVF batch recall@10 with lists ∝ corpus AND nprobe ∝ lists
      // (constant probe FRACTION — nprobe/kLists = 1/4, the 1× gate's
      // ratio): this is the quality contract that survives scale. Holding
      // nprobe FIXED while lists grow shrinks the probed fraction and
      // recall decays by construction (measured 0.57 at 20×, 4/64 lists)
      // — that fixed-nprobe shape is the COST-flatness probe of the IVF
      // section below, not a quality regression. A quantizer that loses
      // recall at CONSTANT fraction is the regression this section
      // catches.
      val emb0r = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding")
      val er = (0 until copies).map { i =>
        emb0r.select((col("vec_id") + lit(i.toLong * 1000000L)).as("vec_id"),
          transform(col("embedding"),
            x => (x * (lit(1.0f) + lit(i.toFloat) * lit(1e-4f))).cast("float"))
            .as("embedding"))
      }.reduce(_ unionByName _).localCheckpoint(true)
      val kListsR = 16 * math.max(1, math.sqrt(copies.toDouble).toInt)
      val (cR, aR) = time(s"r15 IVF build ${copies}x ($kListsR lists)")(
        Similarity.buildIvf(er, "embedding", "vec_id", kListsR, 64))
      // Ground truth = the SAME probe over ALL lists: identical scorer and
      // tiebreak, so the measured recall isolates pure list-miss (the
      // thing nprobe trades) — the sf0.01 gate already pins the probe
      // against the independent quantized-grid twin; here the synthetic
      // COPIES× corpus is full of near-ties whose ordering differs across
      // scorers, which would read as fake recall loss.
      val queriesR = er.filter(col("vec_id") % 25000L === 0L).localCheckpoint(true)
      val nprobeR = math.max(4, kListsR / 4)
      val approxR = time(s"r15 IVF batch probe nprobe=$nprobeR (${queriesR.count()} queries)")(
        Similarity.ivfBatchTopK(queriesR, aR, cR, "embedding", "vec_id",
          k = 10, nprobe = nprobeR).localCheckpoint(true))
      val exactR = time("r15 all-lists probe (ground truth)")(
        Similarity.ivfBatchTopK(queriesR, aR, cR, "embedding", "vec_id",
          k = 10, nprobe = kListsR).localCheckpoint(true))
      val hitsR = exactR.select("query_id", "vec_id")
        .join(approxR.select("query_id", "vec_id"),
          Seq("query_id", "vec_id"), "left_semi").count()
      val truthR = exactR.count()
      println(s"[scale] r15 IVF recall@10 at ${copies}x: " +
        s"$hitsR/$truthR = ${hitsR.toDouble / truthR}")
      require(hitsR * 1000L >= truthR * 550L,
        s"IVF recall collapsed at scale: $hitsR/$truthR")

      // (2) MinHash LSH planted-pair recall at COPIES×: every 200th doc of
      // copy 0 gets a near-dup twin; the banding must surface >= 95% of
      // the planted pairs against the full salted corpus (LSH contracts
      // 1-2% misses; a signature/banding regression collapses far below).
      val docs0r = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      val corpusR = (0 until copies).map { i =>
        docs0r.select((col("doc_id") + lit(i.toLong * 1000000L)).as("doc_id"),
          regexp_replace(col("text"), "\\w+", s"$$0c$i").as("text"))
      }.reduce(_ unionByName _)
      val plantedR = corpusR
        .filter(col("doc_id") < 1000000L && col("doc_id") % 200 === 0)
        .select((col("doc_id") + 900000000L).as("doc_id"),
          concat(col("text"), lit(" graft near dup suffix")).as("text"))
      val nPlantedR = plantedR.count()
      val allR = corpusR.unionByName(plantedR).localCheckpoint(true)
      val pairsR = time(s"r15 minhashDedup ${copies}x corpus + $nPlantedR planted")(
        Dedup.minhashDedup(allR, "text", "doc_id", threshold = 0.5)
          .localCheckpoint(true))
      val foundR = pairsR
        .filter(col("doc_b") - col("doc_a") === 900000000L).count()
      println(s"[scale] r15 MinHash planted recall at ${copies}x: " +
        s"$foundR/$nPlantedR = ${foundR.toDouble / nPlantedR}")
      require(foundR * 100L >= nPlantedR * 95L,
        s"MinHash LSH planted recall collapsed at scale: $foundR/$nPlantedR")

      // (3) Exact qcut at COPIES×: the one-exchange distributed rank (rank
      // read off the sorted-partition id encoding — the r15 rewrite that
      // dropped the second data-sized pid-hash shuffle). Equal-count bins
      // are EXACT by construction: max spread across 100 bins must be 1.
      val ord0q = spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_totalprice")
      val ordersQ = (0 until copies).map { i =>
        ord0q.select(
          (col("o_orderkey") + lit(i.toLong * 100000000L)).as("o_orderkey"),
          col("o_totalprice"))
      }.reduce(_ unionByName _).localCheckpoint(true)
      val nOrdQ = ordersQ.count()
      val binsQ = time(s"r15 exact qcut INTO 100 over $nOrdQ rows")(
        graft.operators.DataQuality
          .qcut(ordersQ, "o_totalprice", 100, Seq("o_orderkey"))
          .groupBy("bin").agg(count(lit(1)).as("n")).localCheckpoint(true))
      val sprQ = binsQ.agg(max("n"), min("n"), sum("n"), count(lit(1))).head()
      require(sprQ.getLong(3) == 100L && sprQ.getLong(2) == nOrdQ &&
        sprQ.getLong(0) - sprQ.getLong(1) <= 1L,
        s"qcut bins unbalanced at scale: $sprQ")
      println(s"[scale] r15 exact qcut at ${copies}x: " +
        s"${sprQ.getLong(1)}..${sprQ.getLong(0)} rows/bin over $nOrdQ")
    }

    // ---- IVF ANN: probe cost vs corpus growth ------------------------------
    // The scale claim: an IVF probe reads nprobe inverted LISTS, whose size
    // stays ~constant when the list count grows with the corpus — so probe
    // cost stays flat at N× vectors while the brute-force scan grows ∝ N.
    if (on("ivf")) {
      import graft.operators.Similarity
      val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding")
      val qv = emb0.filter(col("vec_id") === 7).head().getSeq[Float](1).toSeq
      Seq(1, copies).foreach { nCopies =>
        val e = (0 until nCopies).map { i =>
          emb0.select((col("vec_id") + lit(i.toLong * 1000000L)).as("vec_id"),
            transform(col("embedding"),
              x => (x * (lit(1.0f) + lit(i.toFloat) * lit(1e-4f))).cast("float"))
              .as("embedding"))
        }.reduce(_ unionByName _).localCheckpoint(true)
        val nVec = e.count()
        // lists ∝ corpus keeps per-list size ~constant — the probe contract
        val kLists = 16 * math.max(1, math.sqrt(nCopies.toDouble).toInt)
        val root = java.nio.file.Files.createTempDirectory(s"graft_ivf_sc$nCopies").toString
        val (c, a) = time(f"IVF build ${nCopies}x ($nVec vecs, $kLists lists)")(
          Similarity.buildIvf(e, "embedding", "vec_id", kLists, 64))
        time(s"IVF save ${nCopies}x")(Similarity.saveIvf(spark, root, c, a))
        val idx = time(s"IVF load ${nCopies}x")(Similarity.loadIvf(spark, root))
        time(s"IVF probe nprobe=4 ${nCopies}x")(
          Similarity.ivfTopKLake(idx, "embedding", "vec_id", qv, 10, nprobe = 4).count())
        time(s"brute exact top-k ${nCopies}x")(
          Similarity.bruteForceTopK(e, "embedding", "vec_id", qv, 10).count())
        LakeDataset.deleteRecursively(java.nio.file.Paths.get(root))
      }
    }

    // ---- the index curves' corpus: documents scaled `copies`× ------------
    // Ingested as `copies` equal batches. Every token is salted PER COPY so
    // the copies are genuinely distinct documents (verbatim copies would
    // make batch N a true near-dup of all N-1 prior batches — linear growth
    // in real match work, which is the corpus's fault, not the operator's).
    lazy val bigDocs = {
      val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
      val d = (0 until copies).map { i =>
        docs0.withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L))
          .withColumn("text", regexp_replace(col("text"), "\\w+", s"$$0c$i"))
      }.reduce(_ unionByName _).localCheckpoint(true)
      println(s"[scale] documents: ${d.count()} rows")
      d
    }

    // ---- incremental EXACT index: per-batch cost vs a GROWING corpus ------
    // Same contract as the MinHash curve below, but for the fingerprint
    // anti-join: each batch's probe prunes the corpus read to the bucket
    // cells whose Blooms admit one of the batch's hashes, so per-batch time
    // stays ~flat while the index grows `copies`×. The money probe is a
    // tiny batch of NOISY re-ingests of copy-0 docs — normalization folds
    // the noise away, so every key is already present and the batch must
    // come back empty at ∝ batch cost.
    if (on("ex")) {
      val exRoot = java.nio.file.Files.createTempDirectory("graft_scale_ex").toString
      val exIdx = graft.operators.ExactDedupIndex.open(spark, exRoot, nBuckets = 64)
      (0 until copies).foreach { i =>
        time(f"exact addBatch ${i + 1}%2d/$copies (index holds $i)") {
          exIdx.addBatch(
            bigDocs.filter(col("doc_id") >= i.toLong * 1000000L &&
              col("doc_id") < (i + 1).toLong * 1000000L),
            "text", "doc_id").count()
        }
      }
      val plantedEx = bigDocs
        .filter(col("doc_id") < 1000000L && col("doc_id") % 100 === 0)
        .select((col("doc_id") + 900000000L).as("doc_id"),
          concat(upper(col("text")), lit("  !!")).as("text"))
      val newDocs = time(s"exact addBatch tiny noisy batch vs ${copies}x index") {
        exIdx.addBatch(plantedEx, "text", "doc_id").count()
      }
      println(s"[scale] tiny-batch new uniques: $newDocs (expect 0)")
      time("exact full recompute (whole corpus)") {
        graft.operators.Dedup.exactNormalized(bigDocs, "text", "doc_id").count()
      }
      LakeDataset.deleteRecursively(java.nio.file.Paths.get(exRoot))
    }

    // ---- incremental MinHash: per-batch cost vs a GROWING corpus -----------
    // With the band/shingle tables bucketed + bloom'd, each addBatch prunes
    // its corpus probe to the cells that may hold a matching hash, so
    // per-batch time should stay ~flat while the index grows `copies`× (the
    // pre-bucketing design re-scanned the whole band table: linear growth).
    if (on("mh")) {
      val mhRoot = java.nio.file.Files.createTempDirectory("graft_scale_mh").toString
      val idx = graft.operators.MinhashIndex.open(spark, mhRoot)
      (0 until copies).foreach { i =>
        time(f"addBatch ${i + 1}%2d/$copies (index holds $i)") {
          idx.addBatch(
            bigDocs.filter(col("doc_id") >= i.toLong * 1000000L &&
              col("doc_id") < (i + 1).toLong * 1000000L),
            "text", "doc_id", threshold = 0.5).count()
        }
      }
      // The money probe: a TINY batch of planted near-dups of copy-0 docs
      // against the full `copies`× index. The prune must route it to the
      // matching cells — cost ∝ batch + matches, nowhere near a corpus scan.
      val planted = bigDocs
        .filter(col("doc_id") < 1000000L && col("doc_id") % 100 === 0)
        .withColumn("doc_id", col("doc_id") + 900000000L)
        .withColumn("text", concat(col("text"), lit(" graft near dup suffix")))
      val found = time(s"addBatch tiny planted batch vs ${copies}x index") {
        idx.addBatch(planted, "text", "doc_id", threshold = 0.5).count()
      }
      println(s"[scale] planted-batch pairs found: $found")

      // ---- one-pass training-pipeline operators over the same corpus ------
      // Each is a single scan with no shuffle beyond a bounded aggregation —
      // the shapes that stay ∝ data at 100 TB.
      time(s"decontaminate ${copies}x (broadcast bench grams)") {
        graft.operators.Dedup.decontaminate(bigDocs,
          bigDocs.filter(col("doc_id") % 500 === 0), "text", "doc_id").count()
      }
      time(s"pack sequences ${copies}x (per-shard windows)") {
        graft.operators.TextAnalysis.packSequences(
          bigDocs, "text", "doc_id", budgetTokens = 2048).count()
      }
      time(s"pii scrub ${copies}x (codegen'd regex)") {
        graft.operators.TextAnalysis.piiScrub(bigDocs, "text", "doc_id")
          .agg(sum("n_redacted")).head()
      }
      time("full recompute (whole corpus)") {
        graft.operators.Dedup.minhashDedup(bigDocs, "text", "doc_id",
          threshold = 0.5).count()
      }
      LakeDataset.deleteRecursively(java.nio.file.Paths.get(mhRoot))
    }
    spark.stop()
  }
}
