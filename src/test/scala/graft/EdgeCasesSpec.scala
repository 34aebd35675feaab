package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LlmVector
import graft.streaming.StreamingOps

/** Degenerate-input behavior: empty inputs, null join keys, single-row
  * partitions, sub-shingle documents. These are the shapes that appear
  * constantly in 100 TB partitions (empty file splits, null-heavy columns)
  * and must degrade to empty/null results, never to exceptions. */
class EdgeCasesSpec extends AnyFunSuite {
  import TestSpark._

  test("_metadata file_size/file_name match the filesystem truth") {
    // The oracle-checked half of scan_file_metadata covers file_name +
    // per-file counts; file_size is environment-derived and can't be
    // oracle-SQL'd — witness it against java.io.File here so the
    // provenance column is proven real, not echoed.
    val row = spark.read.parquet(s"$SF001/lineitem.parquet")
      .select(col("_metadata.file_name").as("n"),
        col("_metadata.file_size").as("sz"))
      .distinct().collect()
    assert(row.length == 1, s"expected one fixture file, got ${row.length}")
    assert(row.head.getString(0) == "lineitem.parquet")
    assert(row.head.getLong(1) ==
      new java.io.File(s"$SF001/lineitem.parquet").length)
  }

  test("fn_interval: month arithmetic clamps end-of-month like the oracle") {
    // fn_interval's Scaladoc claims both engines clamp calendar month
    // addition (Jan 31 + 1 month = Feb 28/29). The fixture dates may
    // never land on a month end, so the oracle sweep can pass without
    // ever exercising the clamp — pin it here against DuckDB's own
    // values for the four edge shapes (leap Feb target, non-leap Feb
    // target, leap-day source, 31->31 no-clamp).
    val got = spark.sql(
      """SELECT
        |  CAST(TIMESTAMP_NTZ '2000-01-31 00:00:00' + INTERVAL '1' MONTH AS STRING),
        |  CAST(TIMESTAMP_NTZ '1999-01-31 00:00:00' + INTERVAL '1' MONTH AS STRING),
        |  CAST(TIMESTAMP_NTZ '2000-02-29 10:30:00' + INTERVAL '12' MONTH AS STRING),
        |  CAST(TIMESTAMP_NTZ '2000-03-31 00:00:00' + INTERVAL '2' MONTH AS STRING)
        |""".stripMargin).first()
    // expected literals are DuckDB's output for the same expressions
    assert(got.getString(0) == "2000-02-29 00:00:00", got.toString)
    assert(got.getString(1) == "1999-02-28 00:00:00", got.toString)
    assert(got.getString(2) == "2001-02-28 10:30:00", got.toString)
    assert(got.getString(3) == "2000-05-31 00:00:00", got.toString)
  }

  test("fn_aes_roundtrip: ciphertext is real — wrong key decrypts to NULL") {
    // The registered row proves identity under the RIGHT key plus the
    // PKCS#7 length; a stub that returned its input with padding could
    // in principle fake both. Witness the encryption is real: the
    // ciphertext differs from the plaintext bytes, and try_aes_decrypt
    // under a DIFFERENT key yields NULL, not the plaintext.
    val r = spark.sql(
      """SELECT
        |  aes_encrypt('graft-secret', 'graft-0123456789', 'ECB') AS ct,
        |  CAST(try_aes_decrypt(
        |    aes_encrypt('graft-secret', 'graft-0123456789', 'ECB'),
        |    'wrong-key-000000', 'ECB') AS STRING) AS wrong""".stripMargin)
      .first()
    assert(!java.util.Arrays.equals(r.getAs[Array[Byte]]("ct"),
      "graft-secret".getBytes("UTF-8")), "ciphertext equals plaintext")
    assert(r.isNullAt(1),
      s"wrong-key decrypt returned ${r.getString(1)} instead of NULL")
  }

  test("aggregation over an empty slice returns zero groups, not a crash") {
    import spark.implicits._
    val empty = Seq.empty[(String, Double)].toDF("k", "v")
    val out = empty.groupBy($"k")
      .agg(sum($"v".cast("decimal(18,2)")).cast("double").as("s"))
      .collect()
    assert(out.isEmpty)
  }

  test("global aggregate over empty input yields one row of nulls/zero") {
    import spark.implicits._
    val empty = Seq.empty[(String, Double)].toDF("k", "v")
    val row = empty.agg(count(lit(1)).as("n"), sum($"v").as("s"))
      .collect().head
    assert(row.getLong(0) == 0 && row.isNullAt(1))
  }

  test("null join keys never match (inner and semi)") {
    import spark.implicits._
    val l = Seq((Some(1L), "a"), (None, "b")).toDF("k", "lv")
    val r = Seq((Some(1L), "x"), (None, "y")).toDF("k", "rv")
    assert(l.join(r, Seq("k")).count() == 1)
    assert(l.join(r, Seq("k"), "left_semi").count() == 1)
    // null-keyed left rows survive outer joins with null right side
    val outer = l.join(r, Seq("k"), "left").collect()
    assert(outer.length == 2)
    assert(outer.exists(row => row.getString(1) == "b" && row.isNullAt(2)))
  }

  test("window functions on single-row partitions") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val w = Window.partitionBy($"k").orderBy($"v")
    val out = df.select($"k", row_number().over(w).as("rn"),
        lag($"v", 1).over(w).as("prev"))
      .collect()
    assert(out.forall(_.getInt(1) == 1))
    assert(out.forall(_.isNullAt(2)))
  }

  test("minhash skips documents with fewer than 3 words") {
    import spark.implicits._
    val df = Seq((1L, "too short"), (2L, "also tiny")).toDF("doc_id", "text")
    assert(LlmVector.minhashPairs(df, 0.1).count() == 0)
  }

  test("session window of a single event spans exactly the gap") {
    import spark.implicits._
    val one = Seq((java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 5.0))
      .toDF("ts", "user_id", "value")
    val out = StreamingOps.sessionAgg(one).collect().head
    val startUs = out.getLong(1); val endUs = out.getLong(2)
    assert(endUs - startUs == 30L * 60 * 1000000)
    assert(out.getLong(3) == 1)
  }

  test("cosine expression truncates mismatched vector lengths instead of failing") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f)))
      .toDF("a", "b")
      .select(org.apache.spark.sql.graft.CosineSimilarity(col("a"), col("b"))
        .as("c"))
    val c = df.collect().head.getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12) // truncated to the common prefix
  }

  test("set ops on disjoint and identical inputs") {
    import spark.implicits._
    val a = Seq(1L, 2L).toDF("k")
    val b = Seq(3L).toDF("k")
    assert(a.intersect(b).count() == 0)
    assert(a.except(a).count() == 0)
    assert(a.union(b).count() == 3)
  }

  test("corrupt CSV rows are quarantined and counted, never dropped") {
    import org.apache.spark.sql.functions._
    val row = SparkEntry.queries("scan_csv_corrupt")(spark, TestSpark.SF001)
      .collect()(0)
    val (nGood, nBad, goodTotal) =
      (row.getLong(0), row.getLong(1), row.getDouble(2))
    val orders = graft.sources.Tables.orders(spark, TestSpark.SF001)
    val n = orders.count()
    val expBad = orders.filter(col("o_orderkey") % 10 === 3).count()
    assert(nBad == expBad, "every injected bad row must be quarantined")
    assert(nGood + nBad == n, "no row may vanish under PERMISSIVE")
    val expTotal = orders.filter(col("o_orderkey") % 10 =!= 3)
      .agg(graft.functions.Det.dsum(col("o_totalprice")))
      .collect()(0).getDouble(0)
    assert(goodTotal == expTotal, "good-row total must survive the text trip")
  }

  test("schema evolution NULL-pads old-generation rows, loses none") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("scan_schema_evolve")(spark, TestSpark.SF001)
    val n = graft.sources.Tables.orders(spark, TestSpark.SF001).count()
    assert(out.count() == n, "merged read must cover both generations fully")
    // old generation: the added column surfaces as NULL; new: never NULL
    assert(out.filter(col("gen") === 1)
      .filter(col("o_orderstatus").isNotNull).count() == 0)
    assert(out.filter(col("gen") === 2)
      .filter(col("o_orderstatus").isNull).count() == 0)
    // generation membership is the write-side parity split
    assert(out.filter(col("gen") === 1)
      .filter(col("o_orderkey") % 2 === 1).count() == 0)
  }

  test("fn_variant's fixture-shape assumption holds (fails HERE, not at the gate)") {
    // The oracle emits the literal 'OBJECT<k: BIGINT>' for
    // schema_of_variant, which is only right while EVERY props value is
    // a {"k": <int>} object. Pin that invariant where a fixture
    // regeneration fails loudly and attributably instead of as a silent
    // driver hash mismatch.
    val shapes = graft.sources.Tables.events(spark, SF001)
      .select(schema_of_variant(parse_json(col("props"))).as("sh"))
      .distinct().collect().map(_.getString(0)).toSeq
    assert(shapes == Seq("OBJECT<k: BIGINT>"),
      s"props shape drifted: $shapes — update fn_variant's oracle literal")
  }

  test("Tables.events normalizes both fixture generations to the same TIMESTAMP µs") {
    // The driver regenerated /root/testdata on 2026-08-13, flipping
    // events.ts from TIMESTAMP(NANOS) to TIMESTAMP(MICROS, naive).
    // Tables.events must yield the identical session-local TIMESTAMP µs
    // column for BOTH physical layouts — synthesize one fixture per
    // generation holding the same logical instant and compare. (The
    // legacy generation is stood in for by a raw int64-of-ns column: the
    // nanosAsLong conf makes a true TIMESTAMP(NANOS) column read as
    // exactly that, and Spark cannot write TIMESTAMP(NANOS) itself.)
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val us = 1704067200123456L // 2024-01-01 00:00:00.123456 UTC
    val ns = us * 1000L + 789L // sub-µs tail the legacy path truncates away
    val dLegacy = java.nio.file.Files.createTempDirectory("graft_gen_ns").toString
    val dCurrent = java.nio.file.Files.createTempDirectory("graft_gen_us").toString
    // The driver fixtures are single parquet FILES, and the streaming
    // file source's directory listing does not descend into a
    // Spark-written `events.parquet/` DIRECTORY — so write each synthetic
    // generation the way the driver ships it: write to a temp dir, then
    // move the lone part file to `<gen>/events.parquet`.
    def writeSingleFile(df: org.apache.spark.sql.DataFrame,
        dest: String): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("graft_gen_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(fail(s"no part file written under $stage"))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(dest),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      graft.operators.Scans.rmRecursive(new java.io.File(stage.toString))
    }
    try {
      writeSingleFile(
        Seq((1L, ns, 10L, "view", 1.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
        s"$dLegacy/events.parquet")
      writeSingleFile(
        Seq((1L, 10L, "view", 1.0, "{}"))
          .toDF("event_id", "user_id", "event_type", "value", "props")
          .withColumn("ts", timestamp_micros(lit(us)).cast(TimestampNTZType))
          .select("event_id", "ts", "user_id", "event_type", "value",
            "props"),
        s"$dCurrent/events.parquet")
      val legacy = graft.sources.Tables.events(spark, dLegacy)
      val current = graft.sources.Tables.events(spark, dCurrent)
      assert(legacy.schema("ts").dataType == TimestampType)
      assert(current.schema("ts").dataType == TimestampType)
      val a = legacy.select(col("ts")).collect().head.getTimestamp(0)
      val b = current.select(col("ts")).collect().head.getTimestamp(0)
      assert(a == b, s"generations diverged: legacy=$a current=$b")
      assert(a.toInstant == java.time.Instant.ofEpochSecond(
        us / 1000000L, (us % 1000000L) * 1000L))
      // the streaming file source derives its schema pin from the raw type…
      assert(graft.sources.Tables.eventsRawTsType(spark, dLegacy) == LongType)
      assert(graft.sources.Tables.eventsRawTsType(spark, dCurrent)
        == TimestampNTZType)
      // …and surfaces the NORMALIZED ts for both generations (ADVICE r10
      // #3): a streaming consumer that projects ts now sees the
      // batch-identical session-local TIMESTAMP µs, never the raw
      // generation-dependent Long / TIMESTAMP_NTZ.
      assert(graft.operators.Scans.eventsFileStream(spark, dLegacy)
        .schema("ts").dataType == TimestampType)
      assert(graft.operators.Scans.eventsFileStream(spark, dCurrent)
        .schema("ts").dataType == TimestampType)
      // End-to-end through the registered consumer (source_stream_window,
      // the streaming query that PROJECTS ts): the event-time window
      // bucket must be the same epoch-µs value on both physical layouts
      // of the same instant.
      val winRows = Seq(dLegacy, dCurrent).map { dir =>
        SparkEntry.queries("source_stream_window")(spark, dir)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      }
      assert(winRows.head == winRows.last,
        s"streaming window diverged across generations: $winRows")
      assert(winRows.head == Seq(((us / 7200000000L) * 7200000000L, 1L)),
        s"streaming window bucket wrong: ${winRows.head}")
    } finally {
      // ADVICE r10 #4: these run-unique dirs used to accumulate across
      // runs. The Tables memo entries keyed to them are harmless (no
      // later test can re-derive a run-unique temp path) and evict with
      // the session.
      graft.operators.Scans.rmRecursive(new java.io.File(dLegacy))
      graft.operators.Scans.rmRecursive(new java.io.File(dCurrent))
    }
  }

  test("sink_compacted's fragmented input is built once per (session, sfDir)") {
    // VERDICT r10 #3: the 64-shard setup write is memoized; a second
    // invocation (Verify re-runs, the bench pre-pay + any retime) must
    // reuse the SAME directory byte-for-byte, not rewrite it.
    def shardState(p: String): Map[String, Long] =
      new java.io.File(p).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    val frag1 = graft.operators.Scans.fragmentedEvents(spark, TestSpark.SF001)
    val s1 = shardState(frag1)
    assert(s1.size == 64, s"expected the 64-shard fragmented copy, got ${s1.size}")
    val frag2 = graft.operators.Scans.fragmentedEvents(spark, TestSpark.SF001)
    assert(frag2 == frag1, "memo must return the same directory")
    assert(shardState(frag2) == s1,
      "second call rewrote the fragmented copy (memoization not effective)")
    // and the consumer still passes its own invariant end-to-end
    assert(SparkEntry.queries("sink_compacted")(spark, TestSpark.SF001)
      .count() > 0)
    assert(shardState(frag1) == s1,
      "sink_compacted rewrote its memoized input")
    // ADVICE r11 #1: the scratch path is pid-keyed (shared across
    // same-JVM sessions) while the memo is session-keyed — another
    // session's end hook can delete the directory under a live memo.
    // Simulate that and assert the memo self-heals by rebuilding.
    graft.operators.Scans.rmRecursive(new java.io.File(frag1))
    val frag3 = graft.operators.Scans.fragmentedEvents(spark, TestSpark.SF001)
    assert(shardState(frag3).size == 64,
      "memo returned a deleted directory instead of rebuilding it")
    assert(SparkEntry.queries("sink_compacted")(spark, TestSpark.SF001)
      .count() > 0, "sink_compacted failed after an external scratch delete")
  }

  test("statestore checkpoint memo self-heals after an external delete") {
    // Round-12 self-review: the fragmented-events fix generalized to the
    // statestore-checkpoint memo (same pid-keyed-scratch-under-session-key
    // structure) — prove the self-heal end-to-end the same way: build,
    // delete the scratch out from under the live memo, re-run, and the
    // row must rebuild and return identical content.
    def rows(): Seq[String] =
      SparkEntry.queries("scan_state_store")(spark, TestSpark.SF001)
        .collect().map(_.toString).sorted.toSeq
    val first = rows()
    assert(first.size == 7, s"expected the 7-key state read, got $first")
    // ADVICE r12 #2: only delete THIS JVM's scratch (pid-prefixed) — a
    // concurrent graft JVM on the same box (parallel Verify/Bench) must
    // never have its live scratch removed by sbt test.
    val prefix = s"graft_p${graft.operators.Scans.jvmTag}_statestore_"
    def scratchDirs() = new java.io.File(System.getProperty("java.io.tmpdir"))
      .listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
    assert(scratchDirs().nonEmpty,
      "test setup: no statestore scratch dir found to delete")
    scratchDirs().foreach(graft.operators.Scans.rmRecursive)
    assert(rows() == first,
      "memo did not rebuild the deleted checkpoint (or content drifted)")
    // ADVICE r12 #1: a PARTIAL delete (state/ gone, commits/ standing —
    // rmRecursive's child order is unspecified, so a crashed delete can
    // leave exactly this) must also trip revalidation, not pass a
    // commits-only health check and then fail the statestore read.
    val stateSubdirs = scratchDirs()
      .flatMap(b => Option(b.listFiles()).getOrElse(Array.empty))
      .filter(f => f.isDirectory && f.getName.startsWith("ckpt_"))
      .map(ckpt => new java.io.File(ckpt, "state"))
      .filter(_.isDirectory)
    assert(stateSubdirs.nonEmpty,
      "test setup: no ckpt_*/state subdir found for the partial delete")
    stateSubdirs.foreach(graft.operators.Scans.rmRecursive)
    assert(rows() == first,
      "memo survived a partial (state/-only) checkpoint delete without " +
        "rebuilding — the health predicate is commits-only")
  }

  test("every scratch-writing query tolerates an external scratch delete") {
    // VERDICT r12 #5: the memoized scratch consumers (fragmented events,
    // statestore checkpoint) carry explicit revalidation and dedicated
    // self-heal tests above; the REST of the scratch writers tolerate a
    // cross-session delete by construction (mode-overwrite / rm-first /
    // link-refresh per call) — but nothing asserted that. This drives
    // every remaining scratch-consuming registered query once, deletes
    // its pid-keyed scratch out from under it (what another graft JVM's
    // application-end hook does), re-runs, and requires an identical
    // row count — turning "tolerant by construction" into a pinned
    // contract for each consumer. Query → scratch-op tag, matching the
    // Scans.scratch/bucketed dir naming graft_p<pid>_<op>_<sfKey>.
    val consumers = Seq(
      "scan_csv" -> "csv", "scan_csv_corrupt" -> "csv_corrupt",
      "scan_json" -> "json", "scan_text" -> "text",
      "scan_avro" -> "avro", "scan_xml" -> "xml", "scan_orc" -> "orc",
      "scan_schema_evolve" -> "evolve", "scan_binaryfile" -> "binsrc",
      "scan_manifest_pruned" -> "manifest", "scan_jdbc" -> "jdbc",
      "sink_partitioned" -> "part_sink",
      "sink_stream_foreach" -> "foreach_sink",
      "sink_compacted" -> "compact_out", "zorder_layout" -> "zorder",
      "source_stream_file" -> "stream_src",
      "stream_incremental_restart" -> "increstart",
      "stream_transform_with_state" -> "tws",
      "stream_tws_timers" -> "tws_timer",
      "stream_tws_mapstate" -> "tws_map",
      "join_dpp" -> "dpp_customer", "join_bucketed" -> "bucketed",
      "sink_json_lines" -> "json_sink", "sink_csv_options" -> "csv_sink",
      "scan_recursive_lookup" -> "rec_lookup",
      "stream_update_mode" -> "upd_mode",
      "sink_stream_table" -> "stream_land_cp",
      "stream_foreachbatch_upsert" -> "fbu_state",
      "opt_cbo_reorder" -> "cbo")
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    consumers.foreach { case (query, op) =>
      val n1 = SparkEntry.queries(query)(spark, TestSpark.SF001).count()
      assert(n1 > 0, s"$query returned no rows before the delete")
      // pid-filtered (ADVICE r12 #2): never touch another JVM's scratch
      val prefix = s"graft_p${graft.operators.Scans.jvmTag}_${op}_"
      val dirs = tmp.listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      assert(dirs.nonEmpty,
        s"$query did not create a scratch dir with prefix $prefix — " +
          "the query/op mapping in this test is stale")
      dirs.foreach(graft.operators.Scans.rmRecursive)
      val n2 = SparkEntry.queries(query)(spark, TestSpark.SF001).count()
      assert(n2 == n1,
        s"$query returned $n2 rows after its scratch delete, first run " +
          s"had $n1 — not delete-tolerant")
    }
  }

  test("memoized layouts self-heal after a PARTIAL external delete") {
    // Round-13 self-review: the full-delete sweep above cannot catch the
    // worse failure mode — a crashed cross-session rmRecursive removes
    // children in unspecified order, so a layout can be left PARTIALLY
    // standing, and an any-shard-present health check then serves a
    // truncated layout: wrong rows, no error. Every memoized layout now
    // stamps its exact parquet-file count (`_graft_expected`,
    // Scans.healthyStamped); this deletes exactly ONE shard / partition
    // directory / bucket file out from under each live memo and requires
    // CONTENT-identical results — count equality is not enough, because
    // the truncated read loses specific rows.
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def layoutDirs(op: String): Array[java.io.File] = {
      val prefix = s"graft_p${graft.operators.Scans.jvmTag}_${op}_"
      tmp.listFiles().filter(f => f.isDirectory && f.getName.startsWith(prefix))
    }
    def deleteOne(dir: java.io.File, pick: java.io.File => Boolean): Unit = {
      val victim = Option(dir.listFiles()).getOrElse(Array.empty)
        .find(pick)
      assert(victim.nonEmpty,
        s"test setup: nothing to partially delete under $dir")
      graft.operators.Scans.rmRecursive(victim.get)
    }
    val cases: Seq[(String, String, java.io.File => Boolean)] = Seq(
      // one of the 64 fragmented-events shards
      ("sink_compacted", "compact_frag", _.getName.endsWith(".parquet")),
      // one whole c_nationkey= partition directory
      ("join_dpp", "dpp_customer", _.getName.startsWith("c_nationkey=")),
      // one of the two parity-half input files
      ("stream_transform_with_state", "tws_in",
        _.getName.endsWith(".parquet")),
      // one of the four chronological/sentinel files of the timer staging
      ("stream_tws_timers", "tws_timer_in",
        _.getName.endsWith(".parquet")),
      // one of the two parity-half files of the update-mode staging
      ("stream_update_mode", "upd_in", _.getName.endsWith(".parquet")))
    cases.foreach { case (query, op, pick) =>
      def rows(): Seq[String] =
        SparkEntry.queries(query)(spark, TestSpark.SF001)
          .collect().map(_.toString).sorted.toSeq
      val first = rows()
      val dirs = layoutDirs(op)
      assert(dirs.nonEmpty, s"test setup: no $op layout dir found")
      dirs.foreach(deleteOne(_, pick))
      assert(rows() == first,
        s"$query served a TRUNCATED $op layout after a partial delete — " +
          "the health check is not exact-count")
    }
    // join_bucketed's layout lives under one _bucketed_ root with a
    // subdirectory per table — delete one bucket FILE inside one table
    def bucketRows(): Seq[String] =
      SparkEntry.queries("join_bucketed")(spark, TestSpark.SF001)
        .collect().map(_.toString).sorted.toSeq
    val first = bucketRows()
    val roots = layoutDirs("bucketed")
    assert(roots.nonEmpty, "test setup: no bucketed layout root found")
    roots.foreach { root =>
      val table = Option(root.listFiles()).getOrElse(Array.empty)
        .find(f => f.isDirectory && f.getName.startsWith("graft_bkt_"))
      assert(table.nonEmpty, s"test setup: no bucket table dir under $root")
      deleteOne(table.get, _.getName.endsWith(".parquet"))
    }
    assert(bucketRows() == first,
      "join_bucketed read a table missing a bucket file after a partial " +
        "delete — the health check is not exact-count")
    // opt_cbo_reorder's ANALYZEd tables live under one _cbo_ root with a
    // subdirectory per table — delete one parquet file of `orders`
    def cboRows(): Seq[String] =
      SparkEntry.queries("opt_cbo_reorder")(spark, TestSpark.SF001)
        .collect().map(_.toString).sorted.toSeq
    val cboFirst = cboRows()
    val cboRoots = layoutDirs("cbo")
    assert(cboRoots.nonEmpty, "test setup: no cbo layout root found")
    cboRoots.foreach { root =>
      val orders = new java.io.File(root, "orders")
      assert(orders.isDirectory, s"test setup: no orders table dir under $root")
      deleteOne(orders, _.getName.endsWith(".parquet"))
    }
    assert(cboRows() == cboFirst,
      "opt_cbo_reorder read an orders table missing a file after a " +
        "partial delete — the cbo memo has no health check")
  }

  test("mid-session fixture regeneration fails loudly at the next load") {
    // ADVICE r10 #1: the memoized relations and the streaming schema pin
    // rest on the driver contract "fixtures are immutable for a session's
    // lifetime". If the driver ever regenerates testdata MID-session, the
    // guard must surface it as one attributable error at the next load —
    // not as a stale-plan hash mismatch hours later.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mtime").toString
    try {
      val path = s"$dir/region.parquet"
      Seq((0, "AFRICA")).toDF("r_regionkey", "r_name")
        .write.mode("overwrite").parquet(path)
      assert(graft.sources.Tables.load(spark, dir, "region").count() == 1)
      // simulate an in-place regeneration: same path, different mtime
      val f = new java.io.File(path)
      assert(f.setLastModified(f.lastModified() + 5000),
        "test setup: could not bump the fixture mtime")
      val e = intercept[IllegalStateException] {
        graft.sources.Tables.load(spark, dir, "region")
      }
      assert(e.getMessage.contains("changed mid-session"))
      assert(e.getMessage.contains("region.parquet"))
    } finally graft.operators.Scans.rmRecursive(new java.io.File(dir))
  }

  test("fixture guard: a missing file does not poison the baseline") {
    // ADVICE r11 #2: lastModified()==0 for a missing path must NOT be
    // recorded as a baseline — otherwise the first failed load makes
    // every retry after the file appears throw the misleading
    // "changed mid-session" error instead of succeeding.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_miss").toString
    try {
      intercept[Exception] { // real missing-file error surfaces
        graft.sources.Tables.load(spark, dir, "nation").count()
      }
      Seq((0, "ALGERIA", 0)).toDF("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite").parquet(s"$dir/nation.parquet")
      // the retry after the file appears must establish a fresh baseline
      // and succeed, not die on a phantom 0 -> mtime "regeneration"
      assert(graft.sources.Tables.load(spark, dir, "nation").count() == 1)
    } finally graft.operators.Scans.rmRecursive(new java.io.File(dir))
  }

  test("fixture guard: mtime-preserving rewrite is caught via length") {
    // ADVICE r11 #3, fixture shape corrected per ADVICE r12 #3: the real
    // fixtures under /root/testdata ship as SINGLE parquet files, and
    // java.io.File.length() is only specified for plain files (for a
    // Spark-written parquet *directory* it is filesystem-dependent) — so
    // the guard scenario must be exercised against a single file. cp -p /
    // rsync -t / coarse fs timestamps can preserve mtime across a
    // regeneration; the (mtime, length) baseline catches any rewrite that
    // changes the byte count.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_len").toString
    // Write `df` as ONE plain parquet file at dest (the /root/testdata
    // layout): Spark writes a directory; move its single part file out.
    def writeSingleFile(df: org.apache.spark.sql.DataFrame,
        dest: java.io.File): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("graft_len_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(fail("test setup: no part file written"))
      java.nio.file.Files.move(part.toPath, dest.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      graft.operators.Scans.rmRecursive(stage.toFile)
    }
    try {
      val f = new java.io.File(s"$dir/region.parquet")
      writeSingleFile(Seq((0, "AFRICA")).toDF("r_regionkey", "r_name"), f)
      val mtime = f.lastModified(); val len = f.length()
      assert(f.isFile && len > 0, "test setup: expected a plain parquet file")
      // baseline established on the v1 single file (1 row)
      assert(graft.sources.Tables.load(spark, dir, "region").count() == 1)
      // same-mtime regeneration: different content/length, mtime restored
      // (what cp -p does). The v2 name is deliberately wide — parquet's
      // page/footer padding can make small files byte-identical in length
      // across nearby row counts, and the guard scenario needs the byte
      // count to genuinely differ.
      writeSingleFile(
        Seq((0, "AFRICA"), (1, "AMERICA_" + "y" * 128))
          .toDF("r_regionkey", "r_name"), f)
      assert(f.setLastModified(mtime),
        "test setup: could not restore the fixture mtime")
      assert(f.lastModified() == mtime && f.length() != len,
        "test setup: need same-mtime, different-length")
      val e = intercept[IllegalStateException] {
        graft.sources.Tables.load(spark, dir, "region")
      }
      assert(e.getMessage.contains("changed mid-session"))
    } finally graft.operators.Scans.rmRecursive(new java.io.File(dir))
  }

  test("ThresholdLevenshtein rewrite never admits a far pair (-1 sentinel trap)") {
    // The WRONG rewrite of `levenshtein(a,b) <= k` is
    // `levenshtein(a,b,k) <= k`: the thresholded kernel returns -1 for
    // distance > k, and -1 <= k would admit EVERY far pair. Drive a
    // corpus of known near and far pairs through the naive spelling on a
    // rule-installed session and compare against hand-computed distances
    // — plus the strict `< k` form, whose rewrite uses threshold k-1.
    import spark.implicits._
    org.apache.spark.sql.graft.ThresholdLevenshtein.install(spark)
    val words = Seq("kitten", "sitting", "kitchen", "mitten",
      "aardvark", "zzzzzzzzzz", "kitte", "")
    def lev(x: String, y: String): Int = {
      val d = Array.tabulate(x.length + 1, y.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to x.length; j <- 1 to y.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
      d(x.length)(y.length)
    }
    val df = words.zipWithIndex.toDF("w", "i")
    val pairs = df.as("a").join(df.as("b"),
      col("a.i") < col("b.i"))
      .select(col("a.w").as("wa"), col("b.w").as("wb"))
    val le2 = pairs.filter(levenshtein(col("wa"), col("wb")) <= 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val lt3 = pairs.filter(levenshtein(col("wa"), col("wb")) < 3)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val all = for (i <- words.indices; j <- words.indices if i < j)
      yield (words(i), words(j))
    val expLe2 = all.filter { case (x, y) => lev(x, y) <= 2 }.toSet
    assert(le2 == expLe2,
      s"<=2 mismatch: got $le2 expected $expLe2")
    assert(lt3 == expLe2, s"<3 (threshold k-1 path) mismatch: got $lt3")
    assert(all.exists { case (x, y) => lev(x, y) > 2 },
      "corpus must contain far pairs or the trap assertion is vacuous")
  }

  test("GraftExtensions wires functions AND the optimizer rule into a conf-built session") {
    // The extensions deployment path (SQL-only clusters; see
    // VectorExpressions.GraftExtensions): build a SECOND session over the
    // shared context carrying GraftExtensions and assert both injection
    // kinds took — graft_cosine resolves in SQL, and the naive
    // levenshtein predicate is rewritten by ThresholdLevenshtein WITHOUT
    // any install() call on this session. builder.withExtensions drives
    // the SAME class the spark.sql.extensions conf instantiates (the
    // conf itself is STATIC — it binds at SparkContext creation and
    // cannot be exercised from a shared-context test JVM). The harness
    // session is cleared and restored around the build because
    // getOrCreate would otherwise return it unchanged.
    import org.apache.spark.sql.SparkSession
    val original = spark
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val ext = try SparkSession.builder()
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions())
      .getOrCreate()
    finally {
      SparkSession.setActiveSession(original)
      SparkSession.setDefaultSession(original)
    }
    assert(ext ne original, "builder must have created a fresh session")
    val cos = ext.sql(
      "SELECT graft_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c")
      .collect()(0).getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12, s"graft_cosine not wired: $cos")
    // A real datasource scan, not a Seq-backed LocalRelation — the
    // optimizer constant-folds a deterministic filter over a
    // LocalRelation away entirely, leaving nothing to rewrite.
    import org.apache.spark.sql.functions.{col, levenshtein, lit}
    def lev(x: String, y: String): Int = {
      val d = Array.tabulate(x.length + 1, y.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to x.length; j <- 1 to y.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
      d(x.length)(y.length)
    }
    val q = ext.read.parquet(s"$SF001/part.parquet")
      .select(col("p_name"))
      .filter(levenshtein(col("p_name"), lit("cold widget")) <= 2)
    assert(q.queryExecution.optimizedPlan.toString.contains(
      ", Some(2)) >= 0"),
      "injectOptimizerRule path did not rewrite the naive predicate:\n" +
        q.queryExecution.optimizedPlan.toString)
    val got = q.collect().map(_.getString(0)).toSet
    val expected = ext.read.parquet(s"$SF001/part.parquet")
      .select(col("p_name")).collect().map(_.getString(0))
      .filter(n => lev(n, "cold widget") <= 2).toSet
    assert(got == expected && got.contains("cold widget"),
      s"rewritten result diverged: got $got expected $expected")
  }

  test("catalog-table writers are re-invocation idempotent") {
    // The managed-table rows carry per-call lifecycle hygiene (DROP +
    // warehouse-location clear; sink_stream_table additionally removes
    // its checkpoint so offsets restart WITH the table — a persisted
    // checkpoint over a freshly-dropped table would replay nothing and
    // silently land zero rows). The Verify matrix exercises this across
    // JVMs; this pins it in-session: run each writer twice and require
    // CONTENT-identical results — the double-append / empty-replay
    // failure modes both change row content, not just counts.
    Seq("sink_table_v2", "sql_insert_into", "sink_stream_table",
      "sql_default_columns")
      .foreach { q =>
        def rows(): Seq[String] =
          SparkEntry.queries(q)(spark, TestSpark.SF001)
            .collect().map(_.toString).sorted.toSeq
        val first = rows()
        assert(first.nonEmpty, s"$q returned no rows on first invocation")
        assert(rows() == first,
          s"$q is not re-invocation idempotent — stale table/checkpoint " +
            "state leaked into the second run")
      }
  }

  test("SQL-UDF rows re-invoke cleanly (CREATE OR REPLACE semantics)") {
    // The round-15 SQL-language-function rows register TEMPORARY
    // functions in the shared session; OR REPLACE must make the second
    // invocation both succeed (no FUNCTION_ALREADY_EXISTS) and return
    // content-identical results (no stale body bound under the name).
    Seq("sql_udf_scalar", "sql_udf_table").foreach { q =>
      def rows(): Seq[String] =
        SparkEntry.queries(q)(spark, TestSpark.SF001)
          .collect().map(_.toString).sorted.toSeq
      val first = rows()
      assert(first.nonEmpty, s"$q returned no rows on first invocation")
      assert(rows() == first,
        s"$q is not re-invocation idempotent under CREATE OR REPLACE")
    }
  }
}
