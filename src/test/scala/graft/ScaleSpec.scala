package graft

import graft.analytics.TextAnalysis
import graft.sources.Bucketing
import org.apache.spark.sql.functions._

/** Scale-strategy surfaces: bucketed co-located joins (no exchange),
  * approx distinct accuracy, rolling-hash fingerprints. */
class ScaleSpec extends SparkSpec {

  test("Ranking helpers equal the single-partition window exactly") {
    import org.apache.spark.sql.expressions.Window
    // scrambled total order with a unique tie-break; values collide
    // (v has duplicates) so the tie-break is load-bearing
    val df = spark.range(1000).select(
      (col("id") * 2654435761L % 97).as("v"), col("id"))
    val order = Seq(col("v"), col("id"))
    val expectRn = df.withColumn("rn",
      row_number().over(Window.orderBy(order: _*)).cast("long"))
    val gotRn = graft.analytics.Ranking.globalRowNumber(df, order, "rn")
    assert(gotRn.select("id", "rn").exceptAll(
      expectRn.select("id", "rn")).count() === 0)
    assert(gotRn.count() === 1000)
    // decimal running sum with NEGATIVE values (the max-of-running-sum
    // shortcut would get partition offsets wrong here)
    val dec = df.select(col("id"), col("v"),
      (col("v") - 48).cast("decimal(18,2)").as("x"))
    val expectCum = dec.withColumn("cum",
      sum(col("x")).over(Window.orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val (gotCum, total) = graft.analytics.Ranking.prefixSum(
      dec, order, col("x"), "cum")
    assert(gotCum.select(col("id"), col("cum").cast("decimal(28,2)"))
      .exceptAll(expectCum.select(col("id"), col("cum").cast("decimal(28,2)")))
      .count() === 0)
    // the driver-literal grand total is the exact sum
    val expectTotal = dec.agg(sum(col("x"))).collect()(0).getDecimal(0)
    assert(spark.range(1).select(total.cast("decimal(28,2)").as("t"))
      .collect()(0).getDecimal(0).compareTo(expectTotal) === 0)
    // and the plan carries NO partition-less window
    val p = gotRn.queryExecution.executedPlan.toString
    assert(!p.contains("Window [row_number() windowspecdefinition(v"), p)
  }

  test("co-bucketed tables join with no Exchange and no Sort") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // exploit per-bucket sort order (off by default since SPARK-28209;
    // sound here because writeBucketed guarantees one file per bucket)
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      Bucketing.prepare(spark, sfDir)
      val j    = Bucketing.joinBucketed(spark)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), plan)
      // "Sort [" matches a Sort node but not "SortMergeJoin ["
      assert(!plan.contains("Sort ["), plan)
      // and it still computes the right row count (every lineitem matches)
      assert(j.count() === Tables.lineitem(spark, sfDir).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    }
  }

  test("df-cap bounds n-gram candidate generation under a hot shingle") {
    import spark.implicits._
    // every doc opens with the same boilerplate 5-gram (license header /
    // nav bar pattern); the tail is unique per doc
    val docs = (0 until 200).map(i =>
      (i.toLong, s"common header tokens here now u$i v$i w$i x$i y$i"))
      .toDF("doc_id", "text")
    // uncapped: the one hot shingle pairs every doc with every other
    val uncapped = analytics.Dedup.ngramCandidateCount(docs, dfCap = 1000)
    assert(uncapped === 200L * 199 / 2, s"uncapped=$uncapped")
    // capped: the hot shingle is excluded from candidate generation and
    // the remaining shingles are unique — the quadratic blowup is gone
    val capped = analytics.Dedup.ngramCandidateCount(docs, dfCap = 50)
    assert(capped === 0, s"capped=$capped")
  }

  test("df-cap bounds sliding-window match generation under a boilerplate header") {
    import spark.implicits._
    // every doc opens with the same 8-token header (one shared window
    // fingerprint per doc); the tail is unique per doc
    val docs = (0 until 200).map(i =>
      (i.toLong, s"eight common header tokens shared by all docs u$i v$i w$i x$i"))
      .toDF("doc_id", "text")
    // uncapped: the hot fingerprint matches every doc pair
    val uncapped = analytics.Chunking.spanCandidateCount(docs, k = 8,
      dfCap = 1000)
    assert(uncapped === 200L * 199 / 2, s"uncapped=$uncapped")
    // capped: the boilerplate fingerprint is dropped before the join
    // and the remaining windows are doc-unique — no quadratic blowup
    val capped = analytics.Chunking.spanCandidateCount(docs, k = 8,
      dfCap = 50)
    assert(capped === 0, s"capped=$capped")
  }

  test("winnowing selection honors its coverage guarantee and density bound") {
    val w = 4
    val r = analytics.Chunking
      .textWinnowOf(Tables.documents(spark, sfDir), k = 8, w = w)
      .select(col("n_windows"), col("n_selected"), col("max_gap"))
      .collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (nw, ns, gap) = (row.getLong(0), row.getLong(1), row.getLong(2))
      // Schleimer 2003: every w consecutive windows contain a selected
      // fingerprint → consecutive selections are at most w apart
      assert(gap <= w, s"winnowing gap $gap > w=$w")
      // at least one selection per w windows; never more than all
      assert(ns >= (nw - w + 1) / w && ns <= nw, s"ns=$ns nw=$nw")
    }
    // density tracks the paper's 2/(w+1) expectation on random-ish
    // hashes — corpus-level, loose factor-2 band
    val dens = r.map(x => x.getLong(1).toDouble / x.getLong(0)).sum / r.length
    assert(dens > 1.0 / (w + 1) && dens < 4.0 / (w + 1), s"density=$dens")
  }

  test("embedding LSH at production banding prunes candidates on clustered data") {
    import spark.implicits._
    // 40 clusters x 8 members: cluster centers are random unit-ish
    // vectors, members are tiny perturbations (cos >= ~0.99 within a
    // cluster, ~0 across) — the near-dup structure production corpora
    // have and the driver's random test embeddings lack
    val rnd  = new scala.util.Random(7)
    val dim  = 32
    val centers = Array.fill(40)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = for {
      c <- centers.indices
      m <- 0 until 8
    } yield (c.toLong * 8 + m,
      centers(c).map(x => (x + 0.02 * rnd.nextGaussian()).toFloat).toSeq)
    val emb = rows.toDF("vec_id", "embedding")
    val n = rows.size
    // production banding: 8-bit bands; within-cluster pairs (p ~ 0.97
    // per bit) collide with near-certainty, cross-cluster pairs
    // (p ~ 0.5) collide at ~8/256 per band
    val cand = analytics.Dedup.embeddingCandidateCount(emb, bandBits = 8,
      nBands = 8, dim = dim)
    val allPairs = n.toLong * (n - 1) / 2
    val clusterPairs = 40L * (8 * 7 / 2)
    assert(cand < allPairs / 5, s"cand=$cand of $allPairs — no pruning")
    // and recall on the actual near-dups stays perfect: every
    // within-cluster pair survives into the reranked output
    val found = analytics.Dedup.dedupEmbeddingOf(emb, threshold = 0.95,
      bandBits = 8, nBands = 8, dim = dim).count()
    assert(found === clusterPairs, s"found=$found expected=$clusterPairs")
  }

  test("PCA gram pass: generator + one exchange, no join, d(d+1)/2 cells") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cells = graft.analytics.Similarity.gramCells(emb, 64)
    val plan = cells.queryExecution.executedPlan.toString
    // outer products come from a per-row generator, never a self-join:
    // the only wide op is the (i,j) partial aggregation
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan)
    assert(cells.count() === 64L * 65 / 2) // upper triangle incl. diagonal
    // diagonal cells are sums of squares — strictly positive
    assert(cells.filter(col("i") === col("j")).filter(col("g") <= 0).count() === 0)
  }

  test("approx_count_distinct lands within 5% of exact (HLL++ scale path)") {
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
    val r = ev.agg(
      countDistinct(col("user_id")).as("exact"),
      approx_count_distinct(col("user_id")).as("approx")).first()
    val exact  = r.getLong(0).toDouble
    val approx = r.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact < 0.05, s"exact=$exact approx=$approx")
  }

  test("approx_percentile tracks the exact percentile (GK sketch scale path)") {
    // exact percentile needs a per-group sort; the GK sketch is the
    // one-pass mergeable scale path — assert it lands within 2%
    val r = Tables.events(spark, "/root/testdata/sf0.01").agg(
      expr("percentile(value, 0.5)").as("exact"),
      expr("approx_percentile(value, 0.5, 1000)").as("approx")).first()
    val exact  = r.getDouble(0)
    val approx = r.getDouble(1)
    assert(math.abs(approx - exact) / exact < 0.02, s"exact=$exact approx=$approx")
  }

  test("AQE splits a skewed join partition at runtime") {
    val setConfs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
    val old = setConfs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    setConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 95% of left rows share key 0 — one reducer partition would get
      // nearly the whole join input without AQE's skew split
      val left = spark.range(200000).select(
        when(col("id") % 20 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
        col("id").as("payload"))
      val right = spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("v"))
      // plain join output (an aggregation on the join key would make
      // AQE skip the skew split to preserve the required partitioning)
      val j = left.join(right, "k").select(col("payload"))
      // collect() executes THIS QueryExecution, so the adaptive plan we
      // inspect below is the final one (count() would build its own)
      assert(j.collect().nonEmpty)
      val finalPlan = j.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"), finalPlan)
    } finally {
      old.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
  }

  test("date-partitioned layout prunes partitions at the scan") {
    import graft.warehouse.WarehouseLoad
    val out = new java.io.File("target/fixtures/part_events").getAbsolutePath
    val ev = Tables.events(spark, sfDir)
      .withColumn("event_date", col("ts").cast("date"))
      .drop("ts", "ts_ns")
    WarehouseLoad.writePartitionedByDate(ev, "event_date", out)
    val oneDay = spark.read.parquet(out)
      .filter(col("event_date") === "2024-01-03")
    val scan = oneDay.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(event_date"), scan)
    // pruning is real: the scan touches only the matching partition
    val scanned = oneDay.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
            .map(_.files.size).sum
      }.get
    val totalParts = new java.io.File(out).listFiles()
      .count(_.getName.startsWith("event_date="))
    assert(scanned < totalParts, s"scanned $scanned of $totalParts partitions")
    assert(oneDay.count() > 0)
  }

  test("dynamic partition pruning injects a runtime filter from the dim side") {
    import graft.warehouse.WarehouseLoad
    val out = new java.io.File("target/fixtures/dpp_events").getAbsolutePath
    val ev = Tables.events(spark, sfDir)
      .withColumn("event_date", col("ts").cast("date"))
      .drop("ts", "ts_ns")
    WarehouseLoad.writePartitionedByDate(ev, "event_date", out)
    import spark.implicits._
    // a "dimension" that selects one day — the static scan can't know
    // which partition survives; DPP derives it from the broadcast side
    // at runtime (free when the dim is broadcast anyway)
    // the dim must be a RELATION with a selective filter — a local Seq
    // would be constant-folded (ConvertToLocalRelation) and lose the
    // Filter node the pruning rule keys on
    val dimPath = new java.io.File("target/fixtures/dpp_dim").getAbsolutePath
    Seq((java.sql.Date.valueOf("2024-01-03"), 1),
      (java.sql.Date.valueOf("2024-01-04"), 2)).toDF("event_date", "flag")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
      .filter(col("flag") === 1) // the selective dim predicate DPP keys on
    val j = spark.read.parquet(out)
      .join(broadcast(dim), Seq("event_date"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan)
    assert(j.count() > 0)
  }

  test("runtime bloom filter reduces the fact side of a selective join") {
    // the shuffle-join sibling of DPP: a bloom filter built from the
    // selective (creation) side is pushed into the fact scan. Thresholds
    // are sized for production scans — lower them to exercise the rule
    // at test SF; the assertion is on the injected predicate, the
    // mechanism is identical at 100 TB.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
    ).map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1B")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      val orders = Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val j = Tables.lineitem(spark, sfDir)
        .join(orders, col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"), plan)
      assert(j.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("Misra-Gries sketch: guaranteed heavy hitters, bounded undercount") {
    import graft.functions.sketch
    val toks = Tables.documents(spark, "/root/testdata/sf0.01")
      .select(explode(split(col("text"), " ")).as("tok"))
    val n = toks.count()
    val k = 20
    val got = toks.agg(sketch.freqItems(col("tok"), k).as("hh"))
      .first().getMap[String, Long](0)
    val exact = toks.groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every token with true count > N/k must be present
    val mustHave = exact.filter { case (_, c) => c > n / k }
    assert(mustHave.keySet.subsetOf(got.keySet.map(_.toString)),
      s"missing ${mustHave.keySet -- got.keySet.map(_.toString)}")
    // reported counts undercount by at most N/k
    got.foreach { case (tok, c) =>
      val ex = exact(tok.toString)
      assert(c <= ex && c >= ex - n / k, s"$tok sketch=$c exact=$ex")
    }
  }

  test("count-min sketch: upper bound always, exact when uncollided, mass conserved") {
    import graft.functions.sketch
    val keys = Tables.events(spark, "/root/testdata/sf0.01")
      .filter(col("user_id").isNotNull)
      .select(col("user_id").cast("string").as("k"))
    val n = keys.count()
    val grid = keys.agg(sketch.cms(col("k"), 4, 64).as("s"))
      .first().getSeq[scala.collection.Seq[Long]](0)
    // mass conservation: every depth row holds every update exactly once
    grid.foreach(row => assert(row.sum === n))
    // estimates: never under, over only via bucket collisions
    val exact = keys.groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def bucket(d: Int, k: String): Int = {
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(k.getBytes("UTF-8"))
      (digest(d) & 0xff) % 64
    }
    exact.foreach { case (k, ex) =>
      val est = (0 until 4).map(d => grid(d)(bucket(d, k))).min
      assert(est >= ex, s"$k est=$est exact=$ex")
      // if some depth row gives this key a private bucket, est is exact
      val private_ = (0 until 4).exists(d =>
        exact.keys.count(k2 => bucket(d, k2) == bucket(d, k)) == 1)
      if (private_) assert(est === ex, s"$k uncollided but est=$est exact=$ex")
    }
  }

  test("rolling-hash fingerprints: duplicates collide, distinct texts do not") {
    val d  = "/root/testdata/sf0.1"
    val fp = TextAnalysis.rollingHash(spark, d)
      .join(Tables.documents(spark, d).select(col("doc_id"), md5(col("text")).as("fp")),
        "doc_id")
    // same text ⇒ same poly_hash and winnow_fp
    val groups = fp.groupBy(col("fp"))
      .agg(countDistinct(col("poly_hash")).as("np"),
        countDistinct(col("winnow_fp")).as("nw"),
        count(lit(1)).as("cnt"))
    assert(groups.filter(col("np") > 1 || col("nw") > 1).count() === 0)
    // and hashes separate distinct texts (no global collision collapse)
    val distinctTexts  = fp.select(col("fp")).distinct().count()
    val distinctHashes = fp.select(col("poly_hash")).distinct().count()
    assert(distinctHashes === distinctTexts)
  }

  test("small-file compaction: content identical, file count collapses to target") {
    val dir = Tables.tempOutDir("compact_spec")
    val src = Tables.orders(spark, sfDir)
    src.repartition(32).write.parquet(dir) // the CDC-ingest pathology
    val checksumBefore = spark.read.parquet(dir)
      .agg(sum(col("o_orderkey")), count(lit(1))).first()
    val (before, after) = graft.sinks.Sinks.compact(spark, dir, 4)
    assert(before === 32 && after === 4, s"$before -> $after")
    val checksumAfter = spark.read.parquet(dir)
      .agg(sum(col("o_orderkey")), count(lit(1))).first()
    assert(checksumAfter === checksumBefore)
    // a Hadoop URI lists and counts the same files as a local path
    val uriDir = Tables.tempOutDir("compact_uri_spec")
    src.repartition(6).write.parquet(uriDir)
    assert(graft.sinks.Sinks.compact(spark, "file://" + uriDir, 2) === ((6, 2)))
    assert(spark.read.parquet(uriDir).agg(sum(col("o_orderkey")), count(lit(1)))
      .first() === checksumBefore)
  }

  test("range-partitioned sorted write: files carry disjoint, ordered key ranges") {
    val dir = Tables.tempOutDir("range_write_spec")
    Tables.orders(spark, sfDir)
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    assert(files.length === 4, files.length)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min(col("o_orderkey")), max(col("o_orderkey"))).first()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    // disjoint consecutive ranges ⇒ a key-range predicate prunes to ONE
    // file — the global-sort layout a 100 TB ordered export needs
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2, ranges.mkString(","))
      case _ => ()
    }
  }

  test("z-order layout bounds BOTH dimensions per file; a linear sort does not") {
    // the data-skipping claim behind zorder_value: split the table into
    // 16 "files" by z-key order and every file's (user, value) bounding
    // box is ~1/4 x 1/4 of the domain, so min/max stats prune
    // predicates on EITHER column; a user-sorted layout leaves value
    // min/max at full range, pruning nothing for value predicates
    val d = "/root/testdata/sf0.01"
    val rows = analytics.EventsPipeline.zorderValue(spark, d)
      .select(col("user_id"), col("value_cents"), col("zval")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = rows.length
    val uRange = (rows.map(_._1).max - rows.map(_._1).min).toDouble
    val vRange = (rows.map(_._2).max - rows.map(_._2).min).toDouble
    def meanExtents(sorted: Array[(Long, Long)]): (Double, Double) = {
      val files = sorted.grouped(math.ceil(n / 16.0).toInt).toSeq
      (files.map(f => (f.map(_._1).max - f.map(_._1).min) / uRange).sum / files.size,
        files.map(f => (f.map(_._2).max - f.map(_._2).min) / vRange).sum / files.size)
    }
    val (zu, zv) = meanExtents(rows.sortBy(_._3).map(t => (t._1, t._2)))
    val (_, lv)  = meanExtents(rows.sortBy(_._1).map(t => (t._1, t._2)))
    assert(zu < 0.35 && zv < 0.35, s"z-order extents ($zu, $zv)")
    // the value tail is sparse, so user-sorted files observe ~2/3 of
    // the raw range rather than ~all of it — the claim that matters is
    // relative: z-files bound value markedly tighter than a linear sort
    assert(lv > 0.5 && zv < 0.6 * lv,
      s"z value extent $zv not clearly below user-sorted $lv")
  }

  test("semantic dedup candidate volume shrinks with the quantizer cell count") {
    // the N²/nlist contract behind dedup_semantic's scale story: the
    // within-cell candidate count is Σ n_c·(n_c−1)/2 over cells, directly
    // computable from the emitted (vec_id, cell) assignment. Same
    // corpus, 4 vs 32 cells — the pair volume must drop by well over
    // the 2× conservative bound (ideal uniform occupancy gives 8×).
    def pairVolume(nlist: Int): Long = {
      val cells = graft.analytics.Similarity
        .semanticAssignments(spark, sfDir, nlist = nlist)
        .groupBy(col("cell")).count().collect().map(_.getLong(1))
      cells.map(n => n * (n - 1) / 2).sum
    }
    val coarse = pairVolume(4)
    val fine = pairVolume(32)
    assert(fine > 0, "32-cell quantizer degenerated to empty cells")
    assert(fine * 2 < coarse,
      s"candidate volume $fine (32 cells) not well below $coarse (4 cells)")
  }
}
