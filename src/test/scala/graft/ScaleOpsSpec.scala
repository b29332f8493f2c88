package graft

import org.apache.spark.sql.functions._

/** Specs for the scale-pattern tier (operators/ScaleOps.scala): as-of join
  * correctness + plan shape, sketch-vs-exact percentile error bounds,
  * sampler determinism and rate, and packing invariants. The oracle-green
  * queries are additionally hash-checked by the driver; these tests pin the
  * properties an oracle cannot see (plan shape, error bounds, invariants
  * over re-runs). */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  private def run(name: String, dir: String = sf001) =
    QueryDef.catalogs.find(_.name == name).get.run(spark, dir)

  test("j10_asof_attr matches the brute-force per-purchase scan") {
    val ev = Tables(spark, sf001).events
      .select($"event_id", $"user_id", $"ts_ms", $"event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val views = ev.filter(_._4 == "view")
    val expected = ev.filter(_._4 == "purchase").map { case (id, u, t, _) =>
      val cands = views.filter(v => v._2 == u && v._3 <= t)
      if (cands.isEmpty) (id, u, t, -1L, -1L, -1L)
      else {
        val best = cands.maxBy(v => (v._3, v._1)) // latest ts, tie → max id
        (id, u, t, best._1, best._3, t - best._3)
      }
    }.sortBy(_._1).toSeq
    val got = run("j10_asof_attr").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected)
  }

  test("j10_asof_attr: one key shuffle, no nested-loop join") {
    val p = run("j10_asof_attr").queryExecution.executedPlan.toString
    // the naive formulation of an as-of join (range-predicate join) plans
    // a BroadcastNestedLoopJoin — quadratic per user and the shape that
    // dies at 100 TB; the union+window form must shuffle each side once on
    // the join key (plus the final presentation orderBy's range exchange)
    assert(!p.contains("BroadcastNestedLoopJoin"), "as-of fell back to a nested-loop join")
    assert(!p.contains("CartesianProduct"))
    val hashExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges <= 2, s"expected at most one hash exchange per union side:\n" +
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("a15_percentile_approx lands within 2% of the exact discrete tier") {
    val exact = run("a15_percentile_disc").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val approx = run("a15_percentile_approx").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(approx.keySet === exact.keySet)
    for ((flag, (e50, e90, e99)) <- exact; (a, e) <- Seq(
        approx(flag)._1 -> e50, approx(flag)._2 -> e90, approx(flag)._3 -> e99)) {
      // abs(e) in the denominator: dividing by a SIGNED exact value made
      // the bound vacuously true for any negative percentile (a negative
      // relative error is always <= 0.02) — with e == 0 the bound
      // degenerates to exact equality, which is right (r13 test sweep)
      assert(math.abs(a - e) <= 0.02 * math.abs(e) || a == e,
        s"$flag: approx $a vs exact $e")
    }
  }

  test("smp_stratified is deterministic and hits the per-stratum rates") {
    val a = run("smp_stratified").collect().map(_.toSeq).toSeq
    val b = run("smp_stratified").collect().map(_.toSeq).toSeq
    assert(a === b, "hash sampler must be reproducible run-to-run")
    // rate check at sf0.01 (500 docs, ~250 per parity stratum): binomial
    // 3σ around 25% / 50% keeps the test stable but meaningful
    // the SAME parity expression as the operator (substr-to-end +
    // try_cast): a substring(4,10) twin would disagree on >13-char
    // sources, and a plain cast would throw under ANSI on a
    // non-numeric suffix instead of exercising the fallback branch
    val par = expr("coalesce(try_cast(substr(source, 4) as int) % 2, 1)")
    val docs = Tables(spark, sf01).documents
    val kept = run("smp_stratified", sf01)
      .withColumn("par", par)
      .groupBy($"par").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = docs
      .withColumn("par", par)
      .groupBy($"par").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val evenRate = kept(0).toDouble / total(0)
    val oddRate = kept(1).toDouble / total(1)
    assert(math.abs(evenRate - 0.25) < 0.10, s"even-source rate $evenRate vs 0.25")
    assert(math.abs(oddRate - 0.50) < 0.10, s"odd-source rate $oddRate vs 0.50")
  }

  test("smp_stratified: non-numeric source suffix routes to the 50% branch, not an ANSI throw") {
    val docs = (1L to 40L).map(i => (i, "webcrawl", "en", s"doc $i text"))
      .toDF("doc_id", "source", "lang", "text")
      .withColumn("n_chars", length($"text").cast("long"))
    val dir = tempDir("graft-smp").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // 'webcrawl'.substr(4) = 'crawl' — not an integer; a plain cast
    // throws CAST_INVALID_INPUT under the engine's default ANSI mode,
    // while the documented fallback must keep at the odd/50% rate
    val out = run("smp_stratified", dir).collect()
    assert(out.nonEmpty, "sampler dropped everything on the fallback stratum")
    assert(out.forall(_.getAs[Int]("rate_bp") === 5000),
      "fallback stratum must carry the 50% rate_bp")
    assert(out.forall(_.getAs[String]("samp_key") < "8000"))
    // the kept COUNT must discriminate the 50% branch from the 25% one:
    // every key kept by the 25% threshold is also < "8000", so the
    // forall above can't see a filter routed to the wrong branch. The
    // hash sampler is deterministic, so the count is a fixed number;
    // 40 docs at p=.5 concentrates well above p=.25's ~10 (r13 sweep)
    assert(out.length >= 14 && out.length <= 27,
      s"kept ${out.length}/40 — not consistent with the 50% fallback rate")
  }

  test("pipe_pack_tokens: offsets are a conserved prefix sum and bins are start-aligned") {
    val rows = run("pipe_pack_tokens").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (lang, ds) =>
      val sorted = ds.sortBy(_._2)
      var cum = 0L
      for ((_, docId, tokens, startOff, binId) <- sorted) {
        assert(startOff === cum, s"$lang/$docId: start $startOff, expected $cum")
        assert(binId === startOff / 2048, s"$lang/$docId: bin not start-aligned")
        assert(tokens >= 0L)
        cum += tokens
      }
      // bins are dense: a document starts in every bin up to the last
      val bins = sorted.map(_._5).distinct.sorted
      assert(bins.head === 0L)
      // gaps only possible if one doc spans >1 full bin; documents here
      // are far smaller than the 2048 budget, so demand density
      assert(bins === (0L to bins.last), s"$lang: sparse bins $bins")
    }
  }

  test("asofJoin generic API agrees with the specialized j10 query") {
    val ev = Tables(spark, sf001).events
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts_ms")
    val views = ev.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_event_id"), $"ts_ms".as("view_ts"))
    val got = graft.operators.ScaleOps
      .asofJoin(purchases, views, "user_id", "ts_ms", "view_ts")
      .select($"event_id", $"user_id", $"ts_ms",
        coalesce($"asof.view_event_id", lit(-1L)).as("view_event_id"),
        coalesce($"asof.view_ts", lit(-1L)).as("view_ts_ms"),
        coalesce($"ts_ms" - $"asof.view_ts", lit(-1L)).as("gap_ms"))
      .orderBy($"event_id")
    val want = run("j10_asof_attr")
    assert(got.collect().toSeq === want.collect().toSeq)
  }

  test("asofJoin: a case-variant right key column still aligns instead of being nulled out") {
    // withColumn resolves case-insensitively under the default
    // spark.sql.caseSensitive=false; the alignment fold's presence check
    // must match, or a right side whose key differs only in case gets
    // its key column silently REPLACED with nulls — every right row
    // then lands in the null-key partition and asof is null everywhere
    // (r13 third sweep)
    val left = Seq((1L, 100L), (2L, 5L)).toDF("UserId", "lt")
    val right = Seq((1L, 50L, "p50"), (1L, 80L, "p80")).toDF("USERID", "rt", "payload")
    val got = graft.operators.ScaleOps.asofJoin(left, right, "UserId", "lt", "rt")
      .select($"lt", $"asof.payload".as("p")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) "-" else r.getString(1))).toMap
    assert(got(100L) === "p80", "latest preceding right row must attach")
    assert(got(5L) === "-", "no preceding right row → null asof")
  }

  test("asofJoin: null right times/keys never match; null-key left rows get null asof") {
    // SQL semantics: a right row with null key or null time can never
    // satisfy `key = key AND rightTime <= leftTime` — without the
    // up-front filter it would sort FIRST in the window (nulls-first
    // ASC) and be carried to left rows no real right row precedes
    val left = Seq(
      (1L, java.lang.Long.valueOf(1L), java.lang.Long.valueOf(100L)),
      (2L, java.lang.Long.valueOf(1L), java.lang.Long.valueOf(5L)),
      (3L, null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(100L)))
      .toDF("l_id", "k", "lt")
    val right = Seq(
      (10L, java.lang.Long.valueOf(1L), java.lang.Long.valueOf(50L)),
      (11L, java.lang.Long.valueOf(1L), null.asInstanceOf[java.lang.Long]),
      (12L, null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(1L)))
      .toDF("r_id", "k", "rt")
    val got = graft.operators.ScaleOps.asofJoin(left, right, "k", "lt", "rt")
    val byId = got.select($"l_id", $"asof.r_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(byId(1L) === 10L, "real preceding right row must match")
    assert(byId(2L) === -1L,
      "left row earlier than every real right row must get null, not the null-time row")
    assert(byId(3L) === -1L, "null-key left row must not match the null-key right row")
  }

  test("pipe_decontam_bloom: the Bloom pre-filter never changes the confirmed result") {
    val bloom = run("pipe_decontam_bloom").collect().map(_.toSeq).toSeq
    val exact = run("pipe_decontam").collect().map(_.toSeq).toSeq
    assert(bloom === exact)
  }

  test("decontam Bloom memo: an in-session corpus rewrite rebuilds, never serves a destroyed filter (r13 re-sweep)") {
    // the superseded-version eviction detaches and destroys the old
    // broadcast — an eviction that looked the entry up BEFORE removing
    // it returned the very broadcast it then destroyed, so the second
    // run after a rewrite crashed with "Attempted to use Broadcast
    // after it was destroyed"
    val dir = tempDir("graft-bloomver").toString
    def write(rows: Seq[(Long, String, String)], bumpMs: Long): Unit = {
      rows.toDF("doc_id", "text", "source")
        .withColumn("lang", lit("en"))
        .withColumn("n_chars", length($"text").cast("long"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // force a fingerprint change even within mtime granularity
      val d = new java.io.File(s"$dir/documents.parquet")
      (d +: d.listFiles().toSeq)
        .foreach(f => f.setLastModified(System.currentTimeMillis() + bumpMs))
    }
    write(Seq((0L, "alpha bravo charlie delta", "src0"),
      (1L, "alpha bravo charlie echo", "src1"),
      (2L, "zulu yankee xray whiskey", "src1")), 0L)
    val r1 = graft.SparkEntry.queries("pipe_decontam_bloom")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(r1 === graft.SparkEntry.queries("pipe_decontam")(spark, dir)
      .collect().map(_.toSeq).toSeq)
    write(Seq((0L, "alpha bravo charlie delta", "src0"),
      (1L, "foo bar baz qux quux", "src1"),
      (2L, "alpha bravo charlie whiskey", "src1")), 5000L)
    val r2 = graft.SparkEntry.queries("pipe_decontam_bloom")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(r2 === graft.SparkEntry.queries("pipe_decontam")(spark, dir)
      .collect().map(_.toSeq).toSeq,
      "post-rewrite run must rebuild the filter and match the exact twin")
    assert(r1 !== r2, "vacuous: the rewrite did not change the result")
  }

  test("connectedComponents matches union-find on random graphs") {
    // brute-force union-find ground truth: every node of a non-self-loop
    // edge, labelled with the min node id of its component
    def want(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for ((a, b) <- edges if a != b) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = parent.keys.toSeq
      nodes.map(v => v -> nodes.filter(u => find(u) == find(v)).min).toMap
    }
    def got(edges: Seq[(Long, Long)]): Map[Long, Long] =
      graft.operators.ScaleOps
        .connectedComponents(edges.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rng = new scala.util.Random(1234)
    for (trial <- 1 to 3) {
      val edges = Seq.fill(70)((rng.nextInt(60).toLong, rng.nextInt(60).toLong))
        .filter { case (a, b) => a != b }
      assert(got(edges) === want(edges), s"trial $trial")
    }
    // a high-degree hub with an attached tail, plus a disjoint pair —
    // the hub is NOT the component min, so its label comes from the tail
    val hub = (1L to 200L).map(i => (500L, 500L + i)) ++
      Seq((500L, 3L), (3L, 7L), (900L, 901L))
    val hubLabels = got(hub)
    assert(hubLabels === want(hub))
    assert(hubLabels(500L) === 3L && hubLabels(700L) === 3L && hubLabels(900L) === 900L)
    // an empty edge set, and self-loops only (no node survives a != b)
    assert(got(Seq.empty[(Long, Long)]).isEmpty)
    assert(got(Seq((5L, 5L))).isEmpty)
  }

  test("connectedComponents: pointer jumping converges on a long chain") {
    // a 400-node path has diameter 399; plain min-propagation needs ~399
    // rounds — pointer jumping must land it inside the 30-iteration bound
    val chain = (0L until 399L).map(i => (i, i + 1)).toDF("a", "b")
    val got = graft.operators.ScaleOps.connectedComponents(chain, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length === 400)
    assert(got.forall(_._2 === 0L), "every chain node must label to the min id 0")
  }

  test("connectedComponents frees its per-iteration checkpoints") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // ~5 iterations on a 100-node chain: without the explicit unpersist
    // each iteration would leave its localCheckpoint blocks pinned until
    // driver GC (2 + 2·iterations persisted RDDs); with it only the
    // returned final labels frame may remain
    val chain = (0L until 99L).map(i => (i, i + 1)).toDF("a", "b")
    graft.operators.ScaleOps.connectedComponents(chain, "a", "b").collect()
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.size <= 1, s"expected at most the final labels checkpoint, got ${added.size}")
    // the returned frame is registered: the harness reset frees it too
    // (ADVICE r5: repeated executions each pinned one converged block set)
    graft.operators.RunCaches.clearAll()
    assert(added.intersect(sc.getPersistentRDDs.keySet).isEmpty,
      "clearAll left the converged labels pinned")
  }

  test("connectedComponents reliable-checkpoint path converges identically") {
    // spark.graft.checkpointDir routes iteration state through the
    // fault-tolerant checkpoint path (executor loss survivable at cluster
    // scale); same chain fixture, same labels, and real checkpoint files
    // must exist under the configured dir
    val dir = tempDir("graft-ckpt").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val chain = (0L until 99L).map(i => (i, i + 1)).toDF("a", "b")
      val got = graft.operators.ScaleOps.connectedComponents(chain, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(got.length === 100)
      assert(got.forall(_._2 === 0L), "reliable path must converge to min label 0")
      def files(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
      val sc = spark.sparkContext
      assert(sc.getCheckpointDir.isDefined, "checkpoint dir was never set")
      val ckptRoot = new java.io.File(new java.net.URI(sc.getCheckpointDir.get).getPath)
      assert(files(ckptRoot).nonEmpty, "no reliable checkpoint files were written")
      // EAGER per-iteration file reclaim (r17, the sf100 transient-disk
      // adjudication): a 100-node chain converges over several
      // iterations, and every superseded iteration's snapshot files must
      // be deleted the moment its successor materializes — only the sym
      // edge set and the final converged labels may remain on disk
      val liveRddDirs = files(ckptRoot).map(_.getParentFile).distinct
        .filter(_.getName.startsWith("rdd-"))
      assert(liveRddDirs.size <= 2,
        s"superseded iteration checkpoints were not reclaimed eagerly: " +
          s"${liveRddDirs.size} rdd snapshot dirs remain " +
          s"(${liveRddDirs.map(_.getName).sorted.mkString(", ")})")
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      graft.operators.RunCaches.clearAll()
    }
  }

  test("strataPrefixSum offsets broadcasts are registered and freed by the harness reset") {
    // the kernel broadcasts its per-(chunk, stratum) offsets map; the
    // returned frame reads it lazily, so it cannot be destroyed eagerly —
    // the leak-count contract (same as the CC checkpoint registry) is:
    // exactly one registration per construction, all reclaimed by the
    // reset that Bench/TimeQueries run between cold measurements
    graft.operators.RunCaches.clearAll()
    assert(graft.operators.RunCaches.kernelBroadcastCount === 0)
    val df = (1 to 100).map(i => (s"s${i % 3}", i.toLong, i.toLong))
      .toDF("src", "id", "v")
    (1 to 3).foreach { _ =>
      graft.operators.ScaleOps
        .strataPrefixSum(df, Seq("src"), Seq("id"), col("v"), "off")
        .collect()
    }
    assert(graft.operators.RunCaches.kernelBroadcastCount === 3,
      "expected exactly one registered broadcast per kernel construction")
    graft.operators.RunCaches.clearAll()
    assert(graft.operators.RunCaches.kernelBroadcastCount === 0,
      "clearAll left kernel broadcasts listed")
  }

  test("reserved-name guards reject any-case collisions (withColumn resolves case-insensitively)") {
    // under the default spark.sql.caseSensitive=false, withColumn would
    // silently REPLACE a caller's "Asof"/"__SALT"/"OFF" column — the
    // guards must therefore compare case-insensitively, not exact-string
    val l = Seq((1L, 10L, "x")).toDF("k", "t", "Asof")
    val r = Seq((1L, 5L)).toDF("k", "rt")
    intercept[IllegalArgumentException] {
      graft.operators.ScaleOps.asofJoin(l, r, "k", "t", "rt")
    }
    val sk = Seq((1L, "a")).toDF("k", "__SALT")
    intercept[IllegalArgumentException] {
      graft.operators.SkewJoin.saltedJoin(sk, Seq((1L, "d")).toDF("k", "d"), "k", 4)
    }
    val df = Seq(("s", 1L, 1L)).toDF("src", "id", "OFF")
    intercept[IllegalArgumentException] {
      graft.operators.ScaleOps.strataPrefixSum(df, Seq("src"), Seq("id"), col("id"), "off")
    }
  }

  test("strataPrefixSum with EMPTY strata is a global exclusive prefix sum") {
    // the r15 crypto_merkle_root rewrite leans on this mode (dense leaf
    // index = global prefix-sum of 1 in key order): one Nil stratum key,
    // partials bounded by nChunks, output == row_number − 1 regardless
    // of input partitioning
    val n = 1000
    val df = scala.util.Random.shuffle((0 until n).toList)
      .map(i => (i.toLong * 7 + 3, 1L)).toDF("k", "one")
      .repartition(13) // scrambled physical layout must not matter
    val got = graft.operators.ScaleOps
      .strataPrefixSum(df, Seq.empty, Seq("k"), lit(1L), "idx")
      .select($"k", $"idx").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until n).foreach { i =>
      assert(got(i.toLong * 7 + 3) === i.toLong,
        s"key ${i * 7 + 3} expected dense index $i")
    }
  }

  test("strataPrefixSum refuses strata types whose JVM equality diverges from sort order") {
    // a BinaryType stratum boxes to arrays with reference-identity
    // equals: the partials map would get one entry per ROW (unbounded
    // driver collect) and every output prefix would silently reset to 0
    val bin = Seq((Array[Byte](1), 1L, 1L)).toDF("src", "id", "v")
    intercept[IllegalArgumentException] {
      graft.operators.ScaleOps.strataPrefixSum(bin, Seq("src"), Seq("id"), col("v"), "off")
    }
    // -0.0 == 0.0 under the sort but not under boxed equals
    val dbl = Seq((0.0, 1L, 1L), (-0.0, 2L, 1L)).toDF("src", "id", "v")
    intercept[IllegalArgumentException] {
      graft.operators.ScaleOps.strataPrefixSum(dbl, Seq("src"), Seq("id"), col("v"), "off")
    }
  }

  test("RunCaches.clearAll releases every listed value, even past a failing release") {
    var a = 0
    var b = 0
    val rc = graft.operators.RunCaches
    rc.releaseAtClear("spec-a")(a += 1)
    rc.releaseAtClear("spec-boom")(sys.error("boom"))
    rc.releaseAtClear("spec-b")(b += 1)
    rc.clearAll()
    assert(a === 1 && b === 1, "a throwing release must not skip the rest")
    // the list is emptied: a later reset neither re-runs nor re-reports
    rc.clearAll()
    assert(a === 1 && b === 1, "clearAll left released values listed")
    // after touching the kernel path, one clearAll reclaims its
    // broadcasts — the harness-reset contract
    graft.operators.ScaleOps
      .strataPrefixSum(Seq(("s", 1L, 1L)).toDF("src", "id", "v"),
        Seq("src"), Seq("id"), col("v"), "off").collect()
    assert(rc.kernelBroadcastCount >= 1)
    rc.clearAll()
    assert(rc.kernelBroadcastCount === 0,
      "clearAll must reach the kernel broadcasts")
  }

  test("dd_minhash_cc: transitive chain collapses to one cluster") {
    // one-word-shift chain over 16-token docs: adjacent docs share
    // 15/17 tokens (88% — per-band collision 0.88^4 ≈ 0.60, so a missed
    // link needs all 8 bands to miss: p ≈ 4e-4 per link, and the seeds
    // are fixed so the outcome is deterministic), while the endpoints
    // 1 and 8 share only 9/23 (39%) — BELOW the 50% verify threshold,
    // so no direct 1–8 edge can exist. Per-bucket keeper election
    // cannot merge the ends; the components form must put all eight in
    // cluster 1.
    val words = (1 to 23).map(i => f"token$i%02d")
    val chain = (1 to 8).map(d => (d.toLong, words.slice(d - 1, d + 15).mkString(" ")))
    val docs = (chain :+ ((9L, "zulus yankee xrays whiskey victor uniform tango sierra")))
      .toDF("doc_id", "text")
    val dir = tempDir("graft-cc").toString
    docs.withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.Similarity.ddMinhashCc.run(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("cluster_size")))
    assert(out.toSeq === (1 to 8).map(d => (d.toLong, 1L, 8L)),
      s"got ${out.toSeq}")
  }

  test("j12_range_count matches the brute-force per-purchase window scan") {
    // value pin: every band site (builder, oracle, stream default, this
    // spec) reads ScaleOps.rangeBandMs, so this assert is the one place
    // an accidental edit to the 24h constant still trips a test
    assert(graft.operators.ScaleOps.rangeBandMs === 86400000L)
    val ev = Tables(spark, sf001).events
      .select($"event_id", $"user_id", $"ts_ms", $"event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val views = ev.filter(_._4 == "view")
    val expected = ev.filter(_._4 == "purchase").map { case (id, u, t, _) =>
      (id, u, t,
        views.count(v => v._2 == u &&
          v._3 >= t - graft.operators.ScaleOps.rangeBandMs && v._3 <= t).toLong)
    }.sortBy(_._1).toSeq
    val got = run("j12_range_count").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
    assert(expected.exists(_._4 > 0L), "fixture has no in-window matches")
    assert(expected.exists(_._4 === 0L), "fixture has no zero-view purchases")
  }

  test("j12_range_count: banded equi-join, no nested-loop join") {
    val p = run("j12_range_count").queryExecution.executedPlan.toString
    // the range predicate alone would plan a BroadcastNestedLoopJoin;
    // the bucket explode must turn it into a hash equi-join
    assert(!p.contains("BroadcastNestedLoopJoin"), "range join fell back to nested loop")
    assert(!p.contains("CartesianProduct"))
  }

  test("smp_exact_k: exactly min(50, |stratum|) docs per source, reproducible") {
    val a = run("smp_exact_k").collect().map(_.toSeq).toSeq
    val b = run("smp_exact_k").collect().map(_.toSeq).toSeq
    assert(a === b, "hash-ordered sample must be reproducible run-to-run")
    val total = Tables(spark, sf001).documents
      .groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = a.groupBy(_(1).asInstanceOf[String]).view.mapValues(_.size.toLong)
    for ((src, n) <- total)
      assert(kept.getOrElse(src, 0L) === math.min(50L, n),
        s"$src: expected min(50, $n)")
    // the selection is the md5-smallest doc_ids, not an arbitrary subset
    val docs = Tables(spark, sf001).documents.select($"doc_id", $"source")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val want = docs.groupBy(_._2).toSeq.flatMap { case (_, ds) =>
      ds.sortBy(d => (md5hex(d._1.toString), d._1)).take(50).map(_._1).toSeq
    }.toSet
    assert(a.map(_(0).asInstanceOf[Long]).toSet === want)
  }

  test("txt_vocab_topk matches the brute-force df ranking") {
    val docs = Tables(spark, sf001).documents.select($"lang", $"text")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val df = docs.flatMap { case (lang, text) =>
      text.toLowerCase.split(" ").filter(_.length > 3).distinct.map(lang -> _)
    }.groupBy(identity).view.mapValues(_.size.toLong).toSeq
    val expected = df.map { case ((lang, tok), n) => (lang, tok, n) }
      .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(10).zipWithIndex
          .map { case ((lang, tok, n), i) => (lang, tok, n, i + 1L) }
      }.sortBy(r => (r._1, r._4))
    val got = run("txt_vocab_topk").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
  }

  test("pipe_mix_interleave: every position prefix holds the exact stride ratio") {
    val rows = run("pipe_mix_interleave").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val perSource = rows.groupBy(_._2)
    val strideOf = perSource.keys.map { src =>
      src -> (if (scala.util.Try(src.drop(3).toInt % 2 == 0).getOrElse(false)) 3L else 1L)
    }.toMap
    // the defining invariant of weighted round-robin by position = rn*stride:
    // a reader stopping at ANY position p has consumed exactly
    // min(n_s, p div stride_s) docs of each source — the mixture ratio
    // holds for every prefix, not just the full epoch
    for (p <- Seq(10L, 50L, 100L, 500L); (src, ds) <- perSource) {
      val got = ds.count(_._4 <= p).toLong
      val want = math.min(ds.length.toLong, p / strideOf(src))
      assert(got === want, s"source $src at position cutoff $p")
    }
    // per-source rank order is the md5 hash order (= smp_exact_k's), so
    // mixing composes with the exact-k sampler: the first k of a stratum
    // in mixture order IS the sampler's deterministic subset
    val smp = run("smp_exact_k").collect()
      .map(r => (r.getString(1), r.getLong(4), r.getLong(0))) // (source, rk, doc)
    for ((src, rk, doc) <- smp) {
      val inMix = perSource(src).find(_._3 == rk).get
      assert(inMix._1 === doc, s"$src rank $rk: mix has doc ${inMix._1}, sampler $doc")
    }
  }

  test("pipe_profile matches the brute-force corpus audit") {
    val docs = Tables(spark, sf001).documents
      .select($"lang", $"source", $"n_chars", $"text")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        Option(r.getString(3))))
    val expected = docs.groupBy(_._1).toSeq.map { case (lang, ds) =>
      // filter(_ != null).distinct, NOT distinct: countDistinct (and the
      // DuckDB COUNT(DISTINCT) twin) ignore NULLs — a planted null source
      // must not diverge the brute force from a correct query
      (lang, ds.length.toLong,
        ds.map(_._2).filter(_ != null).distinct.length.toLong,
        ds.map(_._3).sum, ds.map(_._3).min, ds.map(_._3).max,
        ds.count(_._3 < 100L).toLong,
        ds.count(d => d._4.forall(_.isEmpty)).toLong)
    }.sortBy(_._1)
    val got = run("pipe_profile").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    assert(got === expected)
  }

  test("pipe_profile counts planted degenerate documents (null/empty/short)") {
    // every sf fixture is clean — zero null or empty texts — so without a
    // planted fixture the n_empty branch is pinned only vacuously (0 == 0)
    val docs = Seq[(Long, String, String, String)](
      (1L, "src1", "en", null), // null text
      (2L, "src1", "en", ""), // empty text
      (3L, "src2", "en", "tiny"), // short (< 100 chars)
      (4L, "src2", "en", "x" * 150), // normal
      (5L, "src3", "de", "y" * 150))
      .toDF("doc_id", "source", "lang", "text")
      .withColumn("n_chars",
        coalesce(length($"text").cast("long"), lit(0L)))
    val dir = tempDir("graft-prof").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = run("pipe_profile", dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    assert(got("en") === ((4L, 2L, 154L, 0L, 150L, 3L, 2L)))
    assert(got("de") === ((1L, 1L, 150L, 150L, 150L, 0L, 0L)))
  }

  test("strataPrefixSum/strataRank match the window forms, including across chunks") {
    import org.apache.spark.sql.expressions.Window
    // skewed strata: one stratum far larger than the chunk granularity, so
    // rows of the SAME stratum land in many chunks and the cross-chunk
    // offset arithmetic is actually exercised (nChunks = 8 over 2.2k rows)
    val rng = new scala.util.Random(42)
    val data = (1L to 2000L).map(i => ("big", i, rng.nextInt(100).toLong)) ++
      (1L to 150L).map(i => ("mid", i, rng.nextInt(100).toLong)) ++
      Seq(("tiny", 1L, 7L))
    // NULL values included: the kernel must match the window form's
    // semantics exactly — NULL row gets a NULL prefix, later rows skip it
    val df = rng.shuffle(data).toDF("stratum", "id", "v")
      .withColumn("v", when($"id" % 37 === 0, lit(null)).otherwise($"v"))
    val got = graft.operators.ScaleOps
      .strataPrefixSum(df, Seq("stratum"), Seq("id"), $"v", "ps", nChunks = 8)
    val w = Window.partitionBy("stratum").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("ps", sum($"v").over(w) - $"v")
    assert(got.collect().map(_.toSeq).sortBy(_.toString).toSeq ===
      want.collect().map(_.toSeq).sortBy(_.toString).toSeq)
    val gotRk = graft.operators.ScaleOps
      .strataRank(df, Seq("stratum"), Seq("id"), "rk", nChunks = 8)
    val wantRk = df.withColumn("rk", row_number().over(
      Window.partitionBy("stratum").orderBy("id")).cast("long"))
    assert(gotRk.collect().map(_.toSeq).sortBy(_.toString).toSeq ===
      wantRk.collect().map(_.toSeq).sortBy(_.toString).toSeq)
  }

  test("strataPrefixSum handles an empty input frame") {
    val empty = Seq.empty[(String, Long, Long)].toDF("stratum", "id", "v")
    val out = graft.operators.ScaleOps
      .strataPrefixSum(empty, Seq("stratum"), Seq("id"), $"v", "ps", nChunks = 4)
    assert(out.collect().isEmpty)
    assert(out.columns.toSeq === Seq("stratum", "id", "v", "ps"))
  }

  test("strataPrefixSum parallelizes WITHIN one stratum (no single-task pin)") {
    // a single-stratum frame is the worst case for the window realization
    // (ONE task at any cluster size); the kernel must spread it over the
    // requested chunks — observable on the returned frame's partitioning
    val df = (1L to 4000L).map(i => ("en", i, 1L)).toDF("lang", "id", "v")
    val out = graft.operators.ScaleOps
      .strataPrefixSum(df, Seq("lang"), Seq("id"), $"v", "ps", nChunks = 8)
    val sizes = out.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.count(_ > 0) > 1,
      s"one stratum collapsed to a single task: partition sizes ${sizes.toSeq}")
    // and the values are still the exact global prefix sum
    val rows = out.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("ps")).sortBy(_._1)
    rows.foreach { case (id, ps) => assert(ps === id - 1L) }
  }

  test("pipe_pack_tokens / pipe_mix_interleave plans are window-free") {
    // the judge-flagged shape: Window.partitionBy(lang/source) pins an
    // entire stratum to one task at 100 TB. After the strataPrefixSum
    // rewrite the executed plans must carry no WindowExec at all (the
    // kernel's range shuffle lives inside the eagerly-built ExistingRDD).
    for (q <- Seq("pipe_pack_tokens", "pipe_mix_interleave", "smp_exact_k")) {
      val p = run(q).queryExecution.executedPlan.toString
      assert(!p.contains("Window"), s"$q plans a window:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q grew a hash shuffle:\n$p")
    }
  }

  test("j11_salted_skew equals the unsalted brand totals on the real tables") {
    val t = Tables(spark, sf001)
    val plain = t.lineitem.select($"l_partkey".as("pk"), $"l_quantity".cast("long").as("qty"))
      .join(t.part.select($"p_partkey".as("pk"), $"p_brand"), "pk")
      .groupBy($"p_brand")
      .agg(sum($"qty").as("sum_qty"), count(lit(1)).as("n_items"))
      .orderBy($"p_brand").collect().map(_.toSeq).toSeq
    val salted = run("j11_salted_skew").collect().map(_.toSeq).toSeq
    assert(salted === plain)
  }
}
