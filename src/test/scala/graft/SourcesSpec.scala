package graft

import graft.sources.RestSource
import org.apache.spark.sql.functions._

/** S3 RestSource connector: the GraphQL-arg pushdown surface
  * (where/orderBy/limit/offset/selection set) asserted against what the
  * "endpoint" actually received, plus correctness equivalence against
  * the native parquet read for pushed, residual, and paged shapes. */
class SourcesSpec extends SparkSpec {

  import spark.implicits._

  private val docSchema =
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"

  private def rest(pageSize: Int = 2000) =
    spark.read.format("graft.sources.RestSource")
      .option("path", RestSource.snapshot(spark, sf001, "documents"))
      .option("schema", docSchema)
      .option("pageSize", pageSize.toString)
      .load()

  private def native = spark.read.parquet(s"$sf001/documents.parquet")

  test("ordered page request pushes where + orderBy + limit + offset into the source") {
    val got = rest()
      .filter($"lang" === "en")
      .select($"doc_id", $"n_chars")
      .orderBy($"n_chars".desc, $"doc_id".asc)
      .offset(10).limit(50)
      .collect()
    val p = RestSource.lastPushed
    assert(p.filters.exists(_.toString.contains("EqualTo(lang,en)")), p.toString)
    assert(p.sort === Seq(graft.sources.SortKey("n_chars", true, false),
      graft.sources.SortKey("doc_id", false, true)))
    assert(p.offset === Some(10))
    assert(p.limit === Some(60)) // Spark's paging convention: offset + limit
    assert(!p.columns.contains("text"), s"selection set not pruned: ${p.columns}")
    val want = native.filter($"lang" === "en")
      .select($"doc_id", $"n_chars")
      .orderBy($"n_chars".desc, $"doc_id".asc)
      .offset(10).limit(50).collect()
    assert(got.map(_.toSeq).toSeq === want.map(_.toSeq).toSeq)
  }

  test("unordered scan fans out into page partitions, one endpoint request per task") {
    val df = rest(pageSize = 100).filter($"n_chars" > 500L).select($"doc_id", $"lang")
    // 500 docs at sf0.001 / 100-row pages = 5 parallel page requests
    assert(df.rdd.getNumPartitions === 5)
    val want = native.filter($"n_chars" > 500L).select($"doc_id", $"lang")
    assert(df.orderBy($"doc_id").collect().map(_.toSeq).toSeq ===
      want.orderBy($"doc_id").collect().map(_.toSeq).toSeq)
  }

  test("pushed desc sort keeps Spark's absolute null placement (NULLS LAST)") {
    // null placement in SortOrder is absolute — `col.desc` defaults to
    // NULLS LAST. The endpoint comparator must not negate the null
    // branches with the direction, or a pushed desc top-k returns the
    // null rows (and the source claims full pushdown, so Spark drops
    // its own Sort and trusts it verbatim).
    val dir = tempDir("graft-restnull").toFile
    val pw = new java.io.PrintWriter(new java.io.File(dir, "part-0.json"))
    Seq("""{"id":1,"v":10}""", """{"id":2,"v":null}""", """{"id":3,"v":30}""",
      """{"id":4}""", """{"id":5,"v":20}""").foreach(pw.println)
    pw.close()
    val df = spark.read.format("graft.sources.RestSource")
      .option("path", dir.getPath)
      .option("schema", "id BIGINT, v BIGINT")
      .load()
    val desc = df.orderBy($"v".desc).limit(3)
      .select($"id").collect().map(_.getLong(0)).toSeq
    assert(desc === Seq(3L, 5L, 1L), s"desc top-3 must be the non-null rows, got $desc")
    val asc = df.orderBy($"v".asc).limit(3)
      .select($"id").collect().map(_.getLong(0)).toSeq
    // the two null rows lead in either order; the SMALLEST non-null
    // (v=10, id 1) must be third — a self-referential `+ asc.last`
    // previously left that slot unconstrained (r13 test sweep)
    assert(asc.toSet === Set(2L, 4L, 1L) && asc.last === 1L,
      s"asc default is NULLS FIRST then smallest value, got $asc")
  }

  test("non-conforming JSON values read as NULL, never Jackson-coerced to 0/false (r13 sweep)") {
    // asLong("oops") is 0 in Jackson: a pushed `n > 500` filter would
    // silently drop the row, IsNotNull would accept it, and the emitted
    // row would carry a fabricated 0 — Spark's PERMISSIVE reader nulls
    // the field instead, and the endpoint must match Spark's semantics
    val dir = tempDir("graft-restbad").toFile
    val pw = new java.io.PrintWriter(new java.io.File(dir, "part-0.json"))
    Seq("""{"id":1,"n":600,"ok":true}""",
      """{"id":2,"n":"oops","ok":"yes"}""",          // mistyped n + ok
      """{"id":3,"n":99999999999999999999,"ok":false}""", // > Long.MaxValue
      """{"id":4,"n":700.5,"ok":true}""").foreach(pw.println)
    pw.close()
    val df = spark.read.format("graft.sources.RestSource")
      .option("path", dir.getPath)
      .option("schema", "id BIGINT, n BIGINT, ok BOOLEAN")
      .load()
    val rows = df.collect().map(r =>
      r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(rows(2L) === ((None, None)), "mistyped values must be null, not 0/false")
    assert(rows(3L) === ((None, Some(false))), "out-of-Long-range must be null")
    assert(rows(4L) === ((None, Some(true))), "a non-integral number is not a BIGINT")
    // pushed filter + IsNotNull agree with the null reading
    val kept = df.filter($"n".isNotNull && $"n" > 500L)
      .select($"id").collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(1L))
  }

  test("snapshot cache keys cannot collide across sanitization (r13 sweep)") {
    // '/x/sf0.1' and '/x/sf0_1' sanitize to the same characters; the
    // raw-pair hash must keep their snapshot dirs distinct or one
    // would silently serve the other's data through the mtime guard
    val a = tempDir("graft-snap.a").toString
    val b = a.replace("graft-snap.a", "graft-snap_a")
    for (d <- Seq(a, b)) {
      new java.io.File(d).mkdirs()
      Seq((1L, d)).toDF("id", "src").write.mode("overwrite")
        .parquet(s"$d/t.parquet")
    }
    val da = graft.sources.RestSource.snapshot(spark, a, "t")
    val db = graft.sources.RestSource.snapshot(spark, b, "t")
    assert(da !== db, "sanitization-colliding dirs must get distinct snapshots")
    val ra = spark.read.schema("id BIGINT, src STRING").json(da)
      .select($"src").head().getString(0)
    assert(ra === a, "snapshot content must come from its own source dir")
  }

  test("unsupported schema types are rejected at load, not mid-query") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft.sources.RestSource")
        .option("path", "/tmp/nonexistent")
        .option("schema", "id BIGINT, price FLOAT")
        .load()
    }
    assert(e.getMessage.contains("price float"), e.getMessage)
    // r12: supportsExternalMetadata = true means a user-supplied
    // .schema(...) reaches getTable WITHOUT inferSchema — the guard
    // must live on that entry point too, or the DATE column lands as a
    // string slot Catalyst reads with a mid-query ClassCastException
    val e2 = intercept[IllegalArgumentException] {
      spark.read.format("graft.sources.RestSource")
        .schema("id BIGINT, d DATE")
        .option("path", "/tmp/nonexistent")
        .load()
    }
    assert(e2.getMessage.contains("d date"), e2.getMessage)
  }

  test("unsupported predicate is declined and applied client-side, result unchanged") {
    val got = rest().filter($"text".startsWith("a")).select($"doc_id").collect()
    val p = RestSource.lastPushed
    assert(!p.filters.exists(_.toString.contains("StringStartsWith")),
      s"endpoint must decline StartsWith: ${p.filters}")
    val want = native.filter($"text".startsWith("a")).select($"doc_id").collect()
    assert(got.map(_.getLong(0)).sorted.toSeq === want.map(_.getLong(0)).sorted.toSeq)
  }

  test("the executed plan shows the pushed request at the scan") {
    val plan = QueryDef.catalogs.find(_.name == "s3_rest_topn").get
      .run(spark, sf001).queryExecution.executedPlan.toString
    assert(plan.contains("RestScan"), plan.linesIterator.take(5).mkString("\n"))
    assert(plan.contains("EqualTo(lang,en)"))
  }

  test("S1 JDBC table-set: a catalog query runs unchanged against a relational store") {
    // the reference's primary store is Postgres (prisma/schema.prisma:
    // 10-171); the facade flips on a jdbc: locator. Embedded Derby (ships
    // with Spark) stands in: load the parquet nation into it, then run an
    // unmodified catalog query against the JDBC table set and demand the
    // identical result.
    // per-run temp path + engine shutdown: the old fixed
    // /tmp/graft-derby-test path left the database, its boot lock and
    // derby.log behind forever, and embedded Derby allows ONE booting
    // JVM per database — a leftover db.lck from a crashed run (or a
    // concurrent test JVM) failed this test spuriously (r13 test sweep)
    val db = tempDir("graft-derby")
      .resolve("db").toString
    val url = s"jdbc:derby:$db;create=true"
    try {
      Tables(spark, sf001).nation.write
        .mode("overwrite").format("jdbc")
        .option("url", url).option("dbtable", "nation").save()
      val q = graft.operators.Governance.decodeHookConfig
      assert(q.run(spark, url).collect().toSeq === q.run(spark, sf001).collect().toSeq)
      // pushdown smoke: the predicate reaches the database scan
      val plan = Tables(spark, url).nation.filter($"n_nationkey" > 5)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [") && plan.contains("GreaterThan(n_nationkey,5)"),
        plan.linesIterator.take(6).mkString("\n"))
    } finally
      // single-db shutdown unboots it and releases db.lck; Derby
      // REPORTS success as an SQLException, hence the Try
      scala.util.Try(
        java.sql.DriverManager.getConnection(s"jdbc:derby:$db;shutdown=true")): Unit
  }

  test("JdbcLoad: full tier loads with VARCHAR strings; pushed string predicates work") {
    // the r14 jdbc-tier measurement found Spark's Derby dialect defaults
    // StringType to CLOB, which Derby refuses to COMPARE — every pushed
    // string predicate (st1's event_type IN (...)) failed AT THE SCAN.
    // JdbcLoad declares VARCHAR instead; this pins both the loader and
    // the pushdown it exists to keep working.
    val db = tempDir("graft-derby-load").resolve("db").toString
    val url = s"jdbc:derby:$db;create=true"
    try {
      JdbcLoad.load(spark, sf001, url)
      // a string-predicate query runs AND matches the parquet tier
      val st1 = QueryDef.catalogs.find(_.name == "st1_deadline_tally").get
      assert(st1.run(spark, url).collect().toSeq ===
        st1.run(spark, sf001).collect().toSeq)
      // the predicate is pushed to the JDBC scan, not re-filtered
      // Spark-side (the `*` marker), which requires a comparable type
      val plan = st1.run(spark, url).queryExecution.executedPlan.toString
      assert(plan.contains("JDBCRelation(events)") &&
        plan.contains("*In(event_type"),
        plan.linesIterator.filter(_.contains("JDBCRelation")).mkString("\n"))
      // long-text VARCHAR round-trip: a documents consumer agrees too
      val dd = QueryDef.catalogs.find(_.name == "dd_exact").get
      assert(dd.run(spark, url).collect().toSeq ===
        dd.run(spark, sf001).collect().toSeq)
      // vector round-trip: embeddings is stored as the fixed-width BLOB
      // codec and decoded by the facade, so a similarity-tier consumer
      // must agree bit-for-bit with the parquet tier (the r15 jdbc
      // artifact's 7 embeddings non-runners close through this path)
      val sim = QueryDef.catalogs.find(_.name == "sim_topk_dot").get
      assert(sim.run(spark, url).collect().toSeq ===
        sim.run(spark, sf001).collect().toSeq)
      // and the store really holds a BLOB, not a silently-skipped table
      val md = spark.read.format("jdbc").option("url", url)
        .option("dbtable", "embeddings").load().schema("embedding").dataType
      assert(md === org.apache.spark.sql.types.BinaryType, md.toString)
      // REST fixture over a relational corpus: the endpoint snapshot is
      // derived through the facade and versioned by row count (no mtime
      // surface on a jdbc: locator) — the artifact's last non-runner
      // class closes here (r16)
      val rest = QueryDef.catalogs.find(_.name == "s3_rest_topn").get
      assert(rest.run(spark, url).collect().toSeq ===
        rest.run(spark, sf001).collect().toSeq)
    } finally
      scala.util.Try(
        java.sql.DriverManager.getConnection(s"jdbc:derby:$db;shutdown=true")): Unit
  }

  test("incremental indexes over a jdbc corpus: count-token versioning and the staleness contract") {
    // a jdbc: locator has no mtime surface, so ensureVersionedIndex
    // versions the index by an EXPLICIT source token — the corpus row
    // count — next to the split (max id) already in the version name.
    // Contract under test: (1) the _incr families run at all against a
    // relational corpus (the r15 artifact's 3 _incr non-runners),
    // (2) probe ≡ batch-restricted-to-increment holds on that tier, and
    // (3) STALENESS — growing the corpus mints a DIFFERENT version
    // directory, so a stale index can never serve a fresher corpus'
    // probe (the bands it would serve no longer cover the new docs).
    val db = tempDir("graft-derby-incr").resolve("db").toString
    val url = s"jdbc:derby:$db;create=true"
    try {
      JdbcLoad.load(spark, sf001, url)
      val (v1, split1) = graft.operators.Similarity.ensureIndex(spark,
        graft.operators.Similarity.minhashFamily, url)
      val n1 = Tables(spark, url).documents.count()
      assert(v1.contains(s"v$split1-$n1-s"),
        s"version name must carry the (split, count) token: $v1")
      // probe ≡ batch restricted to the increment, ON the jdbc tier
      val incr = QueryDef.catalogs.find(_.name == "dd_minhash_incr").get
      val full = QueryDef.catalogs.find(_.name == "dd_minhash").get
      assert(incr.run(spark, url).collect().toSeq ===
        full.run(spark, url).filter($"doc_id" >= split1)
          .orderBy($"doc_id").collect().toSeq)
      // the embedding family (BLOB-decoded vectors + vec_id token) too
      val (ev1, esplit1) = graft.operators.Similarity.ensureIndex(spark,
        graft.operators.Similarity.embeddingFamily, url)
      val embIncr = QueryDef.catalogs.find(_.name == "dd_embedding_incr").get
      assert(embIncr.run(spark, url).collect().toSeq ===
        embIncr.run(spark, sf001).collect().toSeq)
      assert(ev1.contains(s"v$esplit1-"), ev1)
      // REST snapshot over the same jdbc corpus, pre-append baseline
      val snap0 = graft.sources.RestSource.snapshot(spark, url, "documents")
      assert(spark.read.json(snap0).count() === n1)
      // STALENESS: append one doc (new max id). Both token components
      // move — the ensure must mint a NEW version directory and the
      // probe must reflect the grown corpus, not the stale index.
      val docs = Tables(spark, url).documents
      docs.orderBy($"doc_id".desc).limit(1)
        .withColumn("doc_id", $"doc_id" + 777L)
        .write.mode("append").format("jdbc")
        .option("url", url).option("dbtable", "documents").save()
      val (v2, split2) = graft.operators.Similarity.ensureIndex(spark,
        graft.operators.Similarity.minhashFamily, url)
      assert(v2 !== v1,
        s"a grown corpus re-served the stale index version: $v2")
      assert(split2 > split1)
      assert(v2.contains(s"v$split2-${n1 + 1}-s"),
        s"version name must carry the refreshed (split, count) token: $v2")
      // end-to-end: the incr query over the grown corpus still equals
      // the batch recompute restricted to the NEW increment
      assert(incr.run(spark, url).collect().toSeq ===
        full.run(spark, url).filter($"doc_id" >= split2)
          .orderBy($"doc_id").collect().toSeq)
      // …and the REST snapshot's (count, max-id) token moved with the
      // append, so the snapshot rebuilt to the grown corpus — count
      // alone as a token would ALSO pass here, but the recorded token
      // format is pinned by the marker content below
      val snap1 = graft.sources.RestSource.snapshot(spark, url, "documents")
      assert(spark.read.json(snap1).count() === n1 + 1)
      val tok = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$snap1/_GRAFT_READY")).trim
      assert(tok.matches("\\d+:\\d+"), s"snapshot token must be count:maxId, got $tok")
    } finally
      scala.util.Try(
        java.sql.DriverManager.getConnection(s"jdbc:derby:$db;shutdown=true")): Unit
  }
}
