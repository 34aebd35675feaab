package graft.operators

import org.apache.spark.sql.functions._
import graft.Spec
import graft.sources.{SessionMemo, Tables}
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.runToEnd

/** SURVEY.md §2.1 — scans / sources / sinks.
  *
  * Scale note: `spark.read.parquet` over a directory tree gives vectorized
  * columnar scan, predicate pushdown, column pruning and partition pruning
  * for free; at 100 TB the only change is the path pointing at a
  * partitioned dataset.
  */
object Scans {
  def specs: Seq[Spec] = Seq(scanParquet, scanCsv, scanJson, scanOrc,
    scanAvro, scanXml, scanText, scanJdbc, scanStateStore,
    scanStateMetadata, sinkPartitioned, sourceStreamFile,
    sourceStreamWindow, sourceStreamRate, sourceStreamSocket,
    sinkStreamForeach,
    sinkCompacted, scanBinaryFile, scanCsvCorrupt, scanSchemaEvolve,
    scanManifestPruned, sinkTableV2, scanFileMetadata, sinkJsonLines,
    sinkCsvOptions, scanRecursiveLookup, sinkPartitionOverwrite,
    scanJsonMultiline, scanPartitionPrune, sinkCodecZstd, sinkStreamTable)

  /** `multiLine=true` JSON ingest — the pretty-printed / JSON-array
    * shape every third-party API export arrives in. Structurally
    * different from [[scanJson]]'s JSON-Lines: a multiline document is
    * NOT line-splittable, so each FILE becomes one parse task (the
    * option trades scan parallelism for format tolerance — at 100 TB
    * you convert to JSONL once and keep multiLine only at the ingest
    * edge; many smallish files restore parallelism, which is exactly
    * the layout written here). The fixture is written by this row as a
    * real pretty-printed JSON ARRAY per region (indented, one file per
    * grouping — java.nio writes, not Spark's JSONL writer), read back
    * with a pinned schema; the oracle recomputes from the base table. */
  private val scanJsonMultiline = Spec(
    "scan_json_multiline",
    """SELECT r_regionkey, r_name FROM region
      |ORDER BY r_regionkey""".stripMargin) { (s, d) =>
    val dir = scratch(s, "json_ml", d)
    rmRecursive(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    val rows = Tables.region(s, d)
      .select(col("r_regionkey"), col("r_name"))
      .collect() // region: 5 rows — the bounded dim table
    rows.grouped(2).zipWithIndex.foreach { case (grp, i) =>
      val body = grp.map { r =>
        s"""  {\n    "r_regionkey": ${r.get(0)},\n    "r_name": "${r.getString(1)}"\n  }"""
      }.mkString("[\n", ",\n", "\n]\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, s"part_$i.json"), body)
    }
    import org.apache.spark.sql.types._
    s.read
      .schema(StructType(Seq(StructField("r_regionkey", LongType),
        StructField("r_name", StringType))))
      .option("multiLine", "true")
      .json(dir)
      .orderBy(col("r_regionkey"))
  }

  /** DYNAMIC partition overwrite (`partitionOverwriteMode=dynamic`) —
    * the incremental-job write mode at 100 TB: a daily recompute
    * replaces ONLY the partitions present in its output, leaving every
    * other partition's files untouched (static mode — the default —
    * truncates the whole root first, which for an incremental job means
    * deleting the other 364 days). Demonstrated as the real thing: full
    * partitioned write, then a patch recomputing just the 'P' partition
    * with dynamic overwrite, then one read-back. The hash check IS the
    * mode witness — under static mode the O and F partitions would be
    * gone and the row count alone would break; no plan inspection
    * needed. Per-writer `.option` spelling (not a session conf) so the
    * mode travels with the job that needs it. */
  private val sinkPartitionOverwrite = Spec(
    "sink_partition_overwrite",
    """SELECT o_orderkey, o_orderstatus,
      |  CASE WHEN o_orderstatus = 'P' THEN -1.0 ELSE o_totalprice END
      |    AS price
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val tmp = scratch(s, "dyn_overwrite", d)
    rmRecursive(new java.io.File(tmp))
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice").as("price"),
        col("o_orderstatus"))
    base.write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(tmp)
    base.filter(col("o_orderstatus") === "P")
      .withColumn("price", lit(-1.0))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("o_orderstatus").parquet(tmp)
    s.read.parquet(tmp)
      .select(col("o_orderkey"), col("o_orderstatus"), col("price"))
      .orderBy(col("o_orderkey"))
  }

  /** DataSourceV2 catalog write path (`DataFrameWriterV2`:
    * `df.writeTo(t).using("parquet").createOrReplace()`) + `spark.table`
    * read-back — the CATALOG-addressed sink, vs the path-addressed
    * writes every other sink row uses. This is the surface a lakehouse
    * deployment actually programs against (tables, not directories),
    * and the same call targets any V2 catalog (Iceberg/Delta/JDBC) by
    * changing only the table identifier. The built-in session catalog
    * supports CREATE TABLE AS SELECT but not the ATOMIC REPLACE
    * (`createOrReplace` fails with UNSUPPORTED_FEATURE.TABLE_OPERATION —
    * staged replace needs a StagingTableCatalog like Iceberg's), so the
    * idempotent form HERE is drop-if-exists + `create()`; on a staging
    * catalog the same line becomes `createOrReplace()`
    * ([[freshManagedTable]] does the drop). The read-back goes through
    * the catalog, so the oracle hash-checks the whole write-catalog-read
    * loop. */
  private val sinkTableV2 = Spec(
    "sink_table_v2",
    """SELECT c_nationkey, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val tbl = freshManagedTable(s, "graft_v2_custsum", d)
    Tables.customer(s, d)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_customers"),
        graft.functions.Det.dsum(col("c_acctbal")).as("sum_acctbal"))
      .writeTo(tbl).using("parquet").create()
    s.table(tbl).orderBy(col("c_nationkey"))
  }

  /** Drops the managed table `<prefix>_<pathKey(d)>` and clears its
    * warehouse location, ready for a fresh CREATE; returns the name. The
    * in-memory session catalog dies with its JVM but the managed table's
    * FILES under the warehouse dir do not — for a fresh catalog the DROP
    * is then a no-op and CTAS refuses the stale location
    * (LOCATION_ALREADY_EXISTS). So the location is cleared explicitly;
    * with a durable metastore (production) the DROP alone removes it.
    * The sfDir key keeps two sfDirs in one session off one identifier. */
  private[graft] def freshManagedTable(s: org.apache.spark.sql.SparkSession,
      prefix: String, d: String): String = {
    val tbl = s"${prefix}_${SessionMemo.pathKey(d)}"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val wh = s.conf.get("spark.sql.warehouse.dir")
    val whPath = if (wh.startsWith("file:")) new java.net.URI(wh).getPath
      else wh
    rmRecursive(new java.io.File(whPath, tbl))
    tbl
  }

  /** Manifest-driven file pruning — the metadata layer every table format
    * (Iceberg manifests, Delta stats, Hive+stats) puts between the query
    * and the files, built here from vanilla Spark parts. The table is
    * written range-clustered by the key (16 files, each owning a narrow
    * key range); the MANIFEST — one row per file with (path, min, max,
    * rows), i.e. exactly what a format's commit protocol records — is
    * computed distributedly from `_metadata.file_path` in one grouped
    * pass. Planning a predicate = scanning the MANIFEST (O(#files)
    * metadata rows, collected to the driver like any format's planning
    * step), then reading ONLY the overlapping files by explicit path,
    * with the predicate re-applied as the residual. At 100 TB the
    * manifest is millions of rows where the data is billions — the
    * asymmetry that makes a selective query touch 3 files instead of
    * 30 000. ScansSpec-side proof lives in the spec itself: the pruned
    * path list must be a strict subset of the files. Oracle: the plain
    * filter over the base table — pruning must be invisible to results
    * by construction (the residual guards the boundary files). */
  private val scanManifestPruned = Spec(
    "scan_manifest_pruned",
    """WITH m AS (SELECT MAX(o_orderkey) // 4 AS lo,
      |  MAX(o_orderkey) // 4 + MAX(o_orderkey) // 8 AS hi FROM orders)
      |SELECT o_orderkey, o_totalprice FROM orders, m
      |WHERE o_orderkey >= lo AND o_orderkey < hi
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val dir = scratch(s, "manifest", d)
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"))
      .repartitionByRange(16, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.mode("overwrite").parquet(dir)
    // the manifest: what a table format's commit log would carry
    val manifest = s.read.parquet(dir)
      .select(col("_metadata.file_path").as("path"), col("o_orderkey"))
      .groupBy(col("path"))
      .agg(min(col("o_orderkey")).as("k_min"),
        max(col("o_orderkey")).as("k_max"), count(lit(1)).as("rows"))
    // slice = [max/4, max/4 + max/8) — scale-independent, oracle mirrors
    // the same integer arithmetic (keys are positive: div == floor-div)
    val maxKey = Tables.orders(s, d)
      .agg(max(col("o_orderkey"))).collect()(0).getLong(0)
    val (lo, hi) = (maxKey / 4, maxKey / 4 + maxKey / 8)
    // planning: metadata-only, O(#files)
    val picked = manifest
      .filter(col("k_min") < hi && col("k_max") >= lo)
      .select(col("path")).collect().map(_.getString(0))
    val total = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    require(picked.nonEmpty && picked.length < total,
      s"manifest pruning must skip files: picked ${picked.length}/$total")
    // execution: only the overlapping files, residual re-applied
    s.read.parquet(picked: _*)
      .filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
      .orderBy(col("o_orderkey"))
  }

  /** Schema evolution across file generations — on any long-lived dataset
    * the schema WILL drift (a column added mid-year), and a 100 TB reader
    * must reconcile old and new files in one scan instead of rewriting
    * history. Two generations are written to one table path (gen=1
    * without `o_orderstatus`, gen=2 with it); `mergeSchema=true` unions
    * the per-file footers into one superset schema and old rows surface
    * the missing column as NULL. The cost model at scale: schema merge
    * reads footers only (no data), and the partition-discovered `gen`
    * column keeps generation filters directory-prunable. The oracle
    * reconstructs the same union from the base table, NULL-padding the
    * old generation. */
  private val scanSchemaEvolve = Spec(
    "scan_schema_evolve",
    """SELECT o_orderkey, o_totalprice,
      |  CAST(NULL AS VARCHAR) AS o_orderstatus, 1 AS gen
      |FROM orders WHERE o_orderkey % 2 = 0
      |UNION ALL
      |SELECT o_orderkey, o_totalprice, o_orderstatus, 2 AS gen
      |FROM orders WHERE o_orderkey % 2 = 1
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val dir = scratch(s, "evolve", d)
    val orders = Tables.orders(s, d)
    orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$dir/gen=1")
    orders.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .write.mode("overwrite").parquet(s"$dir/gen=2")
    s.read.option("mergeSchema", "true").parquet(dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"),
        col("gen"))
      .orderBy(col("o_orderkey"))
  }

  /** PERMISSIVE ingestion of a dirty CSV drop — the rule for any external
    * feed at 100 TB is "never let one bad row kill a billion-row load, and
    * never silently drop it either". A deliberately corrupted file set is
    * generated distributed (every key ≡3 mod 10 writes a non-numeric
    * price), read back under `mode=PERMISSIVE` with a
    * `columnNameOfCorruptRecord` quarantine column, and ONE conditional
    * aggregate reports the good/bad split plus the good-row total — the
    * load-audit row a production ingest writes next to every batch. The
    * aggregate reads data AND quarantine columns together, so the count
    * is immune to the classic corrupt-column-pruning trap (a scan of only
    * `_bad` would never exercise the parser). Double→string→double is
    * exact (Spark emits shortest round-trip literals), so the good-row
    * decimal total hash-matches the oracle's prediction from parquet. */
  private val scanCsvCorrupt = Spec(
    "scan_csv_corrupt",
    """SELECT COUNT(*) FILTER (WHERE o_orderkey % 10 <> 3) AS n_good,
      |  COUNT(*) FILTER (WHERE o_orderkey % 10 = 3) AS n_bad,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |    FILTER (WHERE o_orderkey % 10 <> 3) AS DOUBLE) AS good_total
      |FROM orders""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types._
    val tmp = scratch(s, "csv_corrupt", d)
    Tables.orders(s, d)
      .select(concat_ws(",", col("o_orderkey"),
        when(col("o_orderkey") % 10 === 3, lit("oops"))
          .otherwise(col("o_totalprice").cast("string"))).as("value"))
      .write.mode("overwrite").text(tmp)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_totalprice", DoubleType),
      StructField("_bad", StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .csv(tmp)
      .agg(count(when(col("_bad").isNull, 1)).as("n_good"),
        count(col("_bad")).as("n_bad"),
        sum(graft.functions.Det.dec2(
          when(col("_bad").isNull, col("o_totalprice"))))
          .cast("double").as("good_total"))
  }

  /** Raw-blob ingestion via the `binaryFile` source — the path every
    * multimodal corpus takes into Spark (images/audio arrive as files, not
    * rows). The scalable half is the READ: `binaryFile.load` lists a
    * directory/bucket and shards per-file rows like any other scan — at
    * 100 TB that is an object-store listing and the blobs never transit
    * the driver. The WRITER here is only the fixture generator: a
    * foreachPartition java.nio write that requires executors and driver to
    * share `java.io.tmpdir`, i.e. local mode (on a real cluster the corpus
    * already sits on shared storage, or the generator would write through
    * the Hadoop FS API — java.nio cannot address HDFS/S3). Read back as
    * (path, length, content) and round-tripped: the oracle predicts byte
    * length AND exact content from the source table, so a single flipped
    * byte anywhere in the path fails the hash. */
  private val scanBinaryFile = Spec(
    "scan_binaryfile",
    """SELECT doc_id,
      |  CAST(octet_length(encode(COALESCE(text, ''))) AS BIGINT) AS n_bytes,
      |  COALESCE(text, '') AS text_back
      |FROM documents WHERE doc_id % 50 = 0
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val dir = scratch(s, "binsrc", d)
    rmRecursive(new java.io.File(dir)) // stale files would union back in
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    Tables.documents(s, d)
      .filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, s"doc_${r.getLong(0)}.bin"),
            r.getString(1).getBytes("UTF-8"))
        }
      }
    s.read.format("binaryFile").load(dir)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1).cast("long")
          .as("doc_id"),
        col("length").as("n_bytes"),
        col("content").cast("string").as("text_back"))
      .orderBy(col("doc_id"))
  }

  /** Small-file compaction — the table-maintenance op every long-lived
    * 100 TB dataset needs: streaming ingest and fine-grained partitioning
    * leave thousands of KB-sized files whose per-file open/footer/listing
    * overhead eventually dominates scans. Here a deliberately fragmented
    * copy (64 shards of a ~100k-row table) is compacted by rewriting
    * through a coarse repartition; `require` pins the invariant that the
    * rewrite actually shrank the file count, and the oracle pins that
    * compaction is content-IDENTITY — same rows, nothing dropped or
    * duplicated. At scale the repartition target comes from
    * bytes/targetFileSize and `maxRecordsPerFile`, and the rewrite runs
    * per partition-directory; the plan shape (scan → round-robin exchange
    * → write) is the same. */
  /** One 64-shard fragmented events copy per (session, sfDir):
    * sink_compacted's INPUT (the "long-lived ingest left thousands of
    * small files" precondition), not the operation under demonstration,
    * so it is built once, pre-payable by Bench as `materialize_frag`, and
    * the timed line measures ONLY the compaction rewrite. The directory
    * itself is scratch-registered for deletion at context end. */
  private val frag = stampedMemo()

  /** A directory that still holds at least one entry matching `p`. */
  private[graft] def dirWith(p: String => Boolean)(f: java.io.File): Boolean =
    f.isDirectory && {
      val ls = f.listFiles(); ls != null && ls.exists(c => p(c.getName))
    }

  /** Recursive count of `.parquet` files under `f` (partitioned layouts
    * nest them one directory per key value). */
  private[graft] def countParquet(f: java.io.File): Int = {
    val ls = f.listFiles()
    if (ls == null) 0
    else ls.map { c =>
      if (c.isDirectory) countParquet(c)
      else if (c.getName.endsWith(".parquet")) 1 else 0
    }.sum
  }

  /** Exact-completeness stamp for memoized layout directories. An
    * any-shard-present health check ([[dirWith]]) passes a PARTIAL
    * external delete — rmRecursive removes children in unspecified
    * order, so a crashed cross-session delete can leave some shards
    * standing — and the memo then silently serves a truncated
    * layout: wrong ROWS, no error, the one failure mode the oracle can
    * only catch if it happens during a Verify run. So the build stamps
    * the exact recursive parquet-file count into a `_graft_expected`
    * sidecar (underscore prefix ⇒ invisible to Spark's file index, like
    * `_SUCCESS`), and [[healthyStamped]] requires the live count to EQUAL
    * it — any partial delete (shards, partition dirs, or the sidecar
    * itself) trips a rebuild instead of a truncated read. */
  private[graft] def stampExpected(dir: String): Unit = {
    val n = countParquet(new java.io.File(dir))
    // Fail loudly at stamp time: healthyStamped treats expected == 0 as
    // unhealthy, so stamping a zero-file layout would create a memo that
    // is silently rebuilt on EVERY invocation — a perf cliff with no
    // error. A zero count here means the build itself wrote nothing;
    // surface that as the build's failure, not as memo churn.
    require(n > 0, s"layout build wrote no parquet files under $dir")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_graft_expected"), n.toString)
    ()
  }

  private[graft] def healthyStamped(f: java.io.File): Boolean =
    f.isDirectory && {
      val st = new java.io.File(f, "_graft_expected")
      st.isFile && {
        val expected =
          try java.nio.file.Files.readString(st.toPath).trim.toInt
          catch { case _: Exception => -1 }
        expected > 0 && countParquet(f) == expected
      }
    }

  /** A session memo (ARCHITECTURE.md "Session memos") of staged layout
    * directories, healthy while the layout is COMPLETE per its
    * [[stampExpected]] stamp. The paths are pid-keyed (JVM-shared) or
    * shared across JVMs while the memo is session-keyed, so another
    * session's application-end hook, another JVM or a crashed delete can
    * remove — or PARTLY remove — the directory a live entry names; the
    * stamp check turns that into a rebuild instead of a truncated read. */
  private[graft] def stampedMemo(): SessionMemo[String] =
    new SessionMemo[String](p => healthyStamped(new java.io.File(p)))

  private[graft] def fragmentedEvents(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    frag(s, d) {
      val dir = scratch(s, "compact_frag", d)
      Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
        .repartition(64)
        .write.mode("overwrite").parquet(dir)
      stampExpected(dir)
      dir
    }

  private val sinkCompacted = Spec(
    "sink_compacted",
    """SELECT event_id, event_type, value FROM events
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    def parquetFiles(p: String): Int = {
      val f = new java.io.File(p)
      if (!f.isDirectory) 0
      else f.listFiles().count(_.getName.endsWith(".parquet"))
    }
    val frag = fragmentedEvents(s, d)
    val out = scratch(s, "compact_out", d)
    s.read.parquet(frag)
      .repartition(4)
      .write.mode("overwrite").parquet(out)
    require(parquetFiles(out) < parquetFiles(frag),
      s"compaction did not reduce file count: ${parquetFiles(frag)} -> " +
        s"${parquetFiles(out)}")
    s.read.parquet(out).orderBy(col("event_id"))
  }

  /** The `_metadata` hidden file-source column (public since Spark 3.2:
    * file_name / file_path / file_size / file_modification_time /
    * row_index, served straight from the scan's file index — no second
    * listing, no extra IO, and it survives column pruning because it is
    * materialized per-file, not per-row-read). At 100 TB this is the
    * provenance surface: "which input shard produced these rows" joins,
    * per-file row-count audits, and bad-file quarantine are all one
    * `groupBy(_metadata.file_name)` away, where a path-parsing UDF over
    * `input_file_name()` would be an opaque non-codegen string hack.
    * The query reads the raw fixture file (no ts columns, so the
    * `Tables` normalization is not needed) and emits per-file row counts
    * + key ranges — the min/max-per-file shape a manifest/skipping layer
    * consumes. file_name is oracle-checkable (the fixture is exactly one
    * file); file_size/file_modification_time are environment-derived and
    * are witnessed against java.io.File in EdgeCasesSpec instead of the
    * oracle. Routed through Tables.lineitem like every other row —
    * `_metadata` resolves on the memoized file-source relation, and the
    * raw-read alternative would bypass the guardMtime
    * mid-session-regeneration tripwire. */
  private val scanFileMetadata = Spec(
    "scan_file_metadata",
    """SELECT 'lineitem.parquet' AS file_name, COUNT(*) AS n_rows,
      |  MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
      |FROM lineitem""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .select(col("_metadata.file_name").as("file_name"), col("l_orderkey"))
      .groupBy(col("file_name"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_orderkey")).as("min_key"),
        max(col("l_orderkey")).as("max_key"))
      .orderBy(col("file_name"))
  }

  /** JSON-lines SINK + read-back (`DataFrameWriter.json` →
    * `DataFrameReader.json` with a pinned schema): the write half of the
    * JSON path — `scan_json` reads a fixture; this row proves the
    * engine's own JSON output round-trips. JSON lines is the interchange
    * format every 100 TB pipeline still speaks at its edges (export to a
    * labeling vendor, event-bus replays), and the row pins the two
    * things that break in practice: double render/reparse identity
    * (shortest-representation formatting reparses to identical bits —
    * same discipline as fn_csv_roundtrip) and schema pinning on
    * read-back (inference over 100 TB of text is a full extra scan and
    * can widen types; production read-back always pins). Partitioned
    * write (4 shards) so the read-back lists a multi-file directory,
    * not a single-file special case. */
  private val sinkJsonLines = Spec(
    "sink_json_lines",
    """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val out = scratch(s, "json_sink", d)
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .repartition(4)
      .write.mode("overwrite").json(out)
    s.read.schema("o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE")
      .json(out)
      .orderBy(col("o_orderkey"))
  }

  /** CSV SINK with non-default dialect options (custom `sep`, `header`,
    * quote-on-demand) + pinned-schema read-back — the csv sibling of
    * [[sinkJsonLines]], closing the write half of the CSV path
    * (`scan_csv` reads a fixture). The payload column is CONSTRUCTED to
    * contain the delimiter itself, so the writer MUST quote and the
    * reader MUST unquote for the round-trip to hash — a naive
    * split-on-delimiter consumer breaks exactly here, which is the
    * dialect bug this row pins. Double render/reparse identity as in
    * fn_csv_roundtrip; 4-shard write so read-back lists a directory. */
  private val sinkCsvOptions = Spec(
    "sink_csv_options",
    """SELECT o_orderkey, o_orderstatus || '|' || o_orderpriority AS tagged,
      |  o_totalprice
      |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val out = scratch(s, "csv_sink", d)
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        concat(col("o_orderstatus"), lit("|"), col("o_orderpriority"))
          .as("tagged"),
        col("o_totalprice"))
      .repartition(4)
      .write.mode("overwrite")
      .option("sep", "|").option("header", "true")
      .csv(out)
    s.read
      .schema("o_orderkey BIGINT, tagged STRING, o_totalprice DOUBLE")
      .option("sep", "|").option("header", "true")
      .csv(out)
      .orderBy(col("o_orderkey"))
  }

  /** `recursiveFileLookup` + `pathGlobFilter` — reading a manifest-less
    * NESTED directory tree while skipping non-data sidecars. Spark's
    * default listing treats subdirectories as partition structure and
    * stops; `recursiveFileLookup=true` walks arbitrary nesting (the
    * "vendor dropped files wherever" lake reality), and
    * `pathGlobFilter='*.parquet'` excludes the _SUCCESS/.txt/.json
    * sidecars that would otherwise either fail the reader or silently
    * corrupt the scan. The fixture tree is built in scratch: orders
    * split across `y=1996/m=01`-style nested dirs PLUS two planted
    * sidecar files that MUST be skipped (a `notes.txt` and a decoy
    * `manifest.json`); the require() proves the decoys exist so the
    * filter is doing real work. At 100 TB the same two options are the
    * difference between one distributed listing and a driver-side
    * crawl script. */
  private val scanRecursiveLookup = Spec(
    "scan_recursive_lookup",
    """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val root = scratch(s, "rec_lookup", d)
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    o.filter(col("o_orderkey") % 2 === 0)
      .write.mode("overwrite").parquet(s"$root/y=1996/m=01")
    o.filter(col("o_orderkey") % 2 === 1)
      .write.mode("overwrite").parquet(s"$root/y=1997/deep/m=02")
    // plant non-data sidecars the glob must skip
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "y=1996", "notes.txt"),
      "vendor notes, not data".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "manifest.json"),
      """{"decoy":true}""".getBytes("UTF-8"))
    require(new java.io.File(s"$root/y=1996/notes.txt").exists &&
      new java.io.File(s"$root/manifest.json").exists,
      "sidecar decoys missing — the glob filter would be untested")
    s.read
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.parquet")
      .schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
      .parquet(root)
      .orderBy(col("o_orderkey"))
  }

  /** Shared recursive delete for scratch/bucket cleanup (one definition,
    * so no copy can drift). */
  private[graft] def rmRecursive(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmRecursive))
    f.delete(); ()
  }

  /** Scratch dir for a round-trip op, keyed by the op name, the full
    * (absolutized) sfDir, AND this JVM's pid. The pid component is what
    * makes concurrent Verify/Bench JVMs on the SAME sfDir safe: without
    * it they share a path, and the first JVM's application-end cleanup
    * hook would delete the other JVM's live scratch files mid-query.
    * With it, the cleanup hook below can only ever remove directories
    * this JVM created; a crashed JVM's leftovers are bounded by fixture
    * size and land under the OS tmp reaper.
    * EVERY scratch dir self-registers deletion when the owning session's
    * context ends, so no scratch consumer can leak its files past the
    * context: idempotent per (session, op, sfDir), file-only, safe
    * during context teardown. */
  private[graft] val jvmTag: Long = java.lang.ProcessHandle.current().pid()

  private[graft] def scratch(s: org.apache.spark.sql.SparkSession,
      op: String, sfDir: String): String = {
    val key = SessionMemo.pathKey(sfDir)
    val dir =
      s"${System.getProperty("java.io.tmpdir")}/graft_p${jvmTag}_${op}_$key"
    graft.sources.SessionHooks.onApplicationEnd(s, s"scratch-$op-$key") {
      () => rmRecursive(new java.io.File(dir))
    }
    dir
  }

  /** Session-INDEPENDENT shared scratch: a staged
    * layout derived purely from an immutable fixture need not be
    * rebuilt per JVM — the per-pid [[scratch]] keying made every fresh
    * Bench/Verify JVM re-pay the sjInput staging (~17 MB of shuffle +
    * seconds of materialize_layout). The shared dir is keyed by op +
    * absolutized sfDir + a caller-supplied CONTENT fingerprint (mtime +
    * size of the fixture file the staging derives from), so a
    * regenerated fixture keys to a NEW directory rather than serving
    * stale chunks — the guardMtime stance, filesystem edition. No
    * application-end deletion: cross-JVM reuse is the point; stale
    * fingerprints are bounded by fixture size and land under the OS
    * tmp reaper like a crashed JVM's [[scratch]] leftovers. */
  private[graft] def sharedScratchDir(op: String, sfDir: String,
      fingerprint: String): String = {
    val key = SessionMemo.pathKey(sfDir)
    s"${System.getProperty("java.io.tmpdir")}/graft_shared_${op}_${key}_$fingerprint"
  }

  private val sharedBuilds = new java.util.concurrent.atomic.AtomicLong

  /** Within-JVM monitor per shared-scratch path: `FileLock` excludes
    * other PROCESSES but throws `OverlappingFileLockException` when two
    * threads of one JVM lock the same file — the monitor serializes
    * those before the OS lock is taken. */
  private val sharedPublishMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]

  /** Build-once-publish-atomically for [[sharedScratchDir]] layouts:
    * concurrent JVMs (or sessions) that miss the healthy check each
    * build into a private sibling dir — builds stay parallel — and then
    * PUBLISH under an exclusive OS lock on a sibling `.lock` file (an
    * unguarded ATOMIC_MOVE races a recovering builder's
    * check-then-delete: a builder that observed an unhealthy/absent
    * target could delete a healthy directory another JVM published in
    * between, and a third JVM already streaming files from it would fail
    * mid-query). Inside the
    * critical section the target is re-checked: a healthy target means
    * another builder won (discard own build); anything else is replaced
    * via rmRecursive + ATOMIC_MOVE (same tmpfs ⇒ rename(2), preserving
    * the admission-order mtimes the stream stagings depend on). Because
    * EVERY delete-or-publish now happens inside the lock and a delete
    * only ever follows an unhealthy observation made inside the same
    * critical section, a healthy published directory can never be
    * deleted, and the post-lock `require(healthy)` cannot fire
    * spuriously. The `.lock` sidecar is a few bytes and lives as long
    * as the layout's tmpdir — the OS reaper handles both together. */
  private[graft] def ensureShared(dir: String,
      healthy: java.io.File => Boolean)(build: String => Unit): String = {
    val target = new java.io.File(dir)
    if (healthy(target)) return dir
    val tmp = new java.io.File(
      dir + ".build" + jvmTag + "_" + sharedBuilds.incrementAndGet())
    rmRecursive(tmp)
    build(tmp.toString)
    import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
    val monitor =
      sharedPublishMonitors.computeIfAbsent(dir, _ => new Object)
    monitor.synchronized {
      val ch = java.nio.channels.FileChannel.open(Paths.get(dir + ".lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lk = ch.lock()
        try {
          if (healthy(target)) rmRecursive(tmp) // another builder won
          else {
            rmRecursive(target) // absent, or unhealthy leftovers
            Files.move(tmp.toPath, target.toPath,
              StandardCopyOption.ATOMIC_MOVE): Unit
          }
        } finally lk.release()
      } finally ch.close()
    }
    require(healthy(target), s"shared scratch publish failed for $dir")
    dir
  }

  /** Full projection of the largest fixture table, deterministic order. */
  private val scanParquet = Spec(
    "scan_parquet",
    "SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber") { (s, d) =>
    Tables.lineitem(s, d).orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** CSV round-trip: write a projected slice as CSV, read back with an
    * explicit schema. Exercises the text-source path (schema pinning, type
    * coercion); oracle recomputes the same slice from parquet. Timestamps
    * are formatted to ISO to stay engine-neutral. */
  private val scanCsv = Spec(
    "scan_csv",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
      |FROM lineitem WHERE l_orderkey % 100 = 0
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types._
    val slice = Tables.lineitem(s, d)
      .filter(col("l_orderkey") % 100 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"))
    val tmp = scratch(s, "csv", d)
    slice.write.mode("overwrite").option("header", "true").csv(tmp)
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_returnflag", StringType)))
    s.read.option("header", "true").schema(schema).csv(tmp)
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** JSON-lines round-trip of events (ts carried as epoch micros through
    * the text format to dodge ns-vs-µs precision hazards). */
  private val scanJson = Spec(
    "scan_json",
    """SELECT event_id, user_id, event_type, value,
      |       epoch_us(ts) AS ts_us
      |FROM events WHERE event_type = 'purchase'
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types._
    val slice = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("ts_us"))
    val tmp = scratch(s, "json", d)
    slice.write.mode("overwrite").json(tmp)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("ts_us", LongType)))
    s.read.schema(schema).json(tmp).orderBy(col("event_id"))
  }

  /** ORC round-trip (columnar alternative to parquet; vectorized reader,
    * pushdown and pruning apply the same way). Oracle recomputes the slice
    * from the parquet source of truth. */
  private val scanOrc = Spec(
    "scan_orc",
    """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
      |FROM supplier ORDER BY s_suppkey""".stripMargin) { (s, d) =>
    val tmp = scratch(s, "orc", d)
    Tables.supplier(s, d).write.mode("overwrite").orc(tmp)
    s.read.orc(tmp)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal"))
      .orderBy(col("s_suppkey"))
  }

  /** Avro round-trip (the row-oriented interchange format of the genre's
    * Kafka-adjacent pipelines): write an orders slice as Avro, read it
    * back, oracle recomputes the slice from the parquet source of truth —
    * the scan_csv/scan_orc pattern. The format("avro") alias lookup
    * fails (the image ships no spark-avro services
    * registration), but spark-sql 4.1.2 bundles the provider CLASS
    * itself, so naming `org.apache.spark.sql.avro.AvroFileFormat`
    * directly binds the source with the bundled avro 1.12 runtime — the
    * documented fully-qualified-provider escape hatch, not a hack. The
    * date rides as an ISO string to keep Avro logical-type encodings out
    * of the comparison (same dodge as scan_json's epoch micros). */
  private val scanAvro = Spec(
    "scan_avro",
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_day
      |FROM orders WHERE o_orderkey % 50 = 0
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val slice = Tables.orders(s, d)
      .filter(col("o_orderkey") % 50 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_day"))
    val tmp = scratch(s, "avro", d)
    val avroProvider = "org.apache.spark.sql.avro.AvroFileFormat"
    slice.write.mode("overwrite").format(avroProvider).save(tmp)
    s.read.format(avroProvider).load(tmp).orderBy(col("o_orderkey"))
  }

  /** XML round-trip — Spark 4 absorbed spark-xml upstream, and
    * `XmlFileFormat` is ServiceLoader-registered in this image's spark-sql
    * jar, making XML the one remaining registered batch format with zero
    * coverage besides `scan_avro` (the same gap category as avro:
    * present-but-unexercised). Writes a customer slice as
    * element-per-row XML with explicit root/row tags, reads it back with a
    * pinned schema (the XML reader requires `rowTag`); oracle recomputes
    * the slice from the parquet source of truth — the scan_csv pattern.
    * Doubles survive the text round-trip exactly (Spark emits shortest
    * round-trip literals, the scan_csv_corrupt precedent). */
  private val scanXml = Spec(
    "scan_xml",
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal
      |FROM customer WHERE c_custkey % 20 = 0
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types._
    val slice = Tables.customer(s, d)
      .filter(col("c_custkey") % 20 === 0)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"))
    val tmp = scratch(s, "xml", d)
    slice.write.mode("overwrite").format("xml")
      .option("rootTag", "customers").option("rowTag", "customer")
      .save(tmp)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType)))
    s.read.format("xml").option("rowTag", "customer").schema(schema)
      .load(tmp).orderBy(col("c_custkey"))
  }

  /** Line-oriented read through the `text` source. The text format was
    * already exercised on the WRITE side (scan_csv_corrupt emits its dirty
    * CSV via `.text`), but nothing else READs through it — this row
    * covers the read side: a one-column name slice is written as raw lines and
    * read back via `spark.read.text` (fixed `value: STRING` schema, the
    * degenerate-schema corner of the source surface). At 100 TB the text
    * source is the raw-log ingestion path — schema-free scan, then parse
    * as a projection. Oracle recomputes the slice from parquet. */
  private val scanText = Spec(
    "scan_text",
    """SELECT c_name FROM customer WHERE c_custkey % 30 = 0
      |ORDER BY c_name""".stripMargin) { (s, d) =>
    val slice = Tables.customer(s, d)
      .filter(col("c_custkey") % 30 === 0)
      .select(col("c_name"))
    val tmp = scratch(s, "text", d)
    slice.write.mode("overwrite").text(tmp)
    s.read.text(tmp).select(col("value").as("c_name"))
      .orderBy(col("c_name"))
  }

  /** JDBC round-trip through EMBEDDED Derby (the derby jars ship in
    * /opt/spark/jars for the Hive metastore, which makes `jdbc` — the
    * genre's standard lookup-table/sink surface — exercisable with zero
    * external infrastructure). Writes an orders slice to a Derby table
    * (an in-memory database — the demo's subject is the
    * jdbc source/sink surface, not Derby's disk store), reads it back as
    * a PARTITIONED JDBC scan (partitionColumn +
    * lower/upper bound + numPartitions — the shape that turns a
    * single-connection bottleneck into N parallel range queries, which is
    * the only way a JDBC ingest survives scale; bounds come from the
    * slice's own min/max, the same planning query a production ingest
    * issues first). Columns are all numeric (BIGINT/DOUBLE are exact
    * through JDBC; no text round-trip hazards), and the oracle recomputes
    * the slice from the parquet source of truth. The explicit driver
    * option pins Derby's embedded driver (10.15+ moved it to
    * derbytools.jar, where ServiceLoader autoload is version-dependent).
    */
  private val scanJdbc = Spec(
    "scan_jdbc",
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders WHERE o_orderkey % 40 = 0
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val logDir = scratch(s, "jdbc", d)
    // The memory: db never touches disk, so the scratch dir must be
    // created explicitly or the log routing silently falls back to
    // console (Derby cannot create the missing parent).
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(logDir))
    // Derby boots once per JVM; route its engine log INSIDE the scratch
    // dir so the application-end cleanup hook removes it (the property
    // only takes effect on the first boot, so later invocations keep
    // logging to the first run's scratch — also cleaned; by then the
    // engine has been shut down by the hook below, so nothing appends to
    // the deleted file).
    System.setProperty("derby.stream.error.file", s"$logDir/derby.log")
    // In-MEMORY database: the demo's subject is Spark's jdbc
    // source/sink surface, not Derby's durability — `memory:` skips the
    // on-disk store create + transaction-log fsyncs that would dominate
    // the cost, and there is no db directory to delete under a live
    // engine. Unique
    // db name per invocation: a same-session re-run gets a fresh db, and
    // heap growth is bounded by the per-run slice (hundreds of rows).
    val url =
      s"jdbc:derby:memory:graft_jdbc_${streamRuns.incrementAndGet()}" +
        ";create=true"
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    // Shut the embedded engine down at application end (also drops
    // every memory: db). Derby signals a SUCCESSFUL full
    // shutdown with SQLException XJ015 — expected, swallowed.
    graft.sources.SessionHooks.onApplicationEnd(s, "derby-shutdown") { () =>
      try {
        Class.forName(driver)
        java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")
        ()
      } catch { case _: java.sql.SQLException => () /* XJ015 = success */ }
    }
    val slice = Tables.orders(s, d)
      .filter(col("o_orderkey") % 40 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    // One writer connection for the few-hundred-row slice: per-partition
    // JDBC connection setup costs more than the insert itself here.
    slice.coalesce(1).write.mode("overwrite").format("jdbc")
      .option("url", url).option("driver", driver)
      .option("dbtable", "ORDERS_SLICE").save()
    val b = slice.agg(min(col("o_orderkey")), max(col("o_orderkey")))
      .collect()(0)
    require(!b.isNullAt(0),
      s"scan_jdbc: no orders with o_orderkey % 40 = 0 under $d — " +
        "partition bounds need a non-empty slice")
    s.read.format("jdbc")
      .option("url", url).option("driver", driver)
      .option("dbtable", "ORDERS_SLICE")
      .option("partitionColumn", "o_orderkey")
      .option("lowerBound", b.getLong(0).toString)
      .option("upperBound", b.getLong(1).toString)
      .option("numPartitions", "4")
      .load()
      .orderBy(col("o_orderkey"))
  }

  /** Batch read of a streaming query's STATE via the `statestore` source —
    * the state-introspection surface an operator of a 100 TB streaming
    * pipeline reaches for when a stateful query misbehaves (what keys are
    * in state? how big is each aggregate?), here demonstrated end-to-end:
    * a checkpointed complete-mode aggregation over a deterministic series
    * is run to completion, then its state store is read BACK as a batch
    * DataFrame and projected to (key, running aggregate). The state rows
    * live per shuffle partition; `partition_id` is deliberately NOT
    * emitted (it is a function of the partition count, and results here
    * are partition-independent by contract — the CPUS=4/7/8/32 sweeps).
    * The oracle recomputes the aggregate from the same series: state
    * after the final batch IS the aggregate, which is exactly the
    * incrementalization contract Structured Streaming makes. The
    * checkpoint build is memoized per (session, sfDir) — see
    * [[statefulCheckpoint]]: a deterministic single-batch build, so the
    * state-version lineage is identical on every run and the metadata
    * twin below reuses it for free. */
  /** One checkpointed streaming aggregation per (session, sfDir), shared
    * by `scan_state_store` (reads the state DATA) and
    * `scan_state_metadata` (reads the state METADATA): the build is
    * deterministic — a single run-to-end batch over a one-file parquet
    * series, one shuffle partition — so every consumer sees the identical
    * state-version lineage (batch 0 only) and the two registry rows pay
    * for ONE build per run instead of two.
    *
    * Healthy = the checkpoint still has a committed batch (both readers
    * need commits/<batchId> to resolve a batch) AND its offsets/ and
    * state/ siblings survive: rmRecursive deletes children in
    * unspecified order, so a partial external delete can leave commits/
    * standing while state/ or offsets/ are already gone. */
  private val ssCkpt = new SessionMemo[String]({ ckpt =>
    dirWith(_.forall(_.isDigit))(new java.io.File(ckpt, "commits")) &&
      dirWith(_.forall(_.isDigit))(new java.io.File(ckpt, "offsets")) &&
      dirWith(_ => true)(new java.io.File(ckpt, "state"))
  })

  private def statefulCheckpoint(s: org.apache.spark.sql.SparkSession,
      d: String): String = ssCkpt(s, d) {
    import org.apache.spark.sql.types._
    val base = scratch(s, "statestore", d)
    val run = streamRuns.incrementAndGet()
    val src = s"$base/src"
    val ckpt = s"$base/ckpt_$run"
    s.range(0, 600).select(col("id").as("v"))
      .coalesce(1).write.mode("overwrite").parquet(src)
    // Build the checkpoint in a 1-shuffle-partition session clone: 7 keys
    // need nowhere near 32 state files per commit, and the batch reads
    // take their layout from the checkpoint itself — same rows, 32× less
    // state I/O.
    val s2 = graft.Sessions.scoped(s, "spark.sql.shuffle.partitions" -> "1")
    val stream = s2.readStream
      .schema(StructType(Seq(StructField("v", LongType)))).parquet(src)
      .withColumn("k", col("v") % 7)
      .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
    val name = "graft_statestore_" + run
    runToEnd("statestore checkpoint build", stream.writeStream
      .format("memory").queryName(name)
      .outputMode("complete").option("checkpointLocation", ckpt))
    ckpt
  }

  /** Pre-pay hooks for Bench's materialize_layout phase, so billed
    * per-query numbers are steady cost: force the memoized statestore
    * checkpoint (otherwise its first toucher pays ~0.8 s inside its
    * timed line) and boot the embedded Derby engine
    * (scan_jdbc's first sample carried the one-time engine boot). The
    * Derby warm routes the engine log to the same scratch the row uses
    * — the property only binds on FIRST boot, so warming with an
    * unrouted log would strand derby.log in the CWD for the whole JVM. */
  private[graft] def prepayStateCheckpoint(
      s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    statefulCheckpoint(s, d); ()
  }

  /** Pre-pay the socket-source first-touch: the first socket stream in
    * a JVM bills ~3-4 s of provider classload + streaming-engine boot,
    * which otherwise shows as a spike on source_stream_socket (5.16 s
    * billed, 0.96 s retime). A
    * two-word warm stream through the same loopback-feeder plumbing
    * pays exactly those JVM-wide costs in materialize_layout; the timed
    * row still does all its own per-query work.
    *
    * The warm is purely an optimization, so a flaky warm-up must cost
    * one spike, never the bench — failures are logged and swallowed
    * here. Inside, the feeder closes its socket/writer deterministically
    * AFTER the drain (an eager close could reset the connection under
    * the still-draining source, and a GC finalizer's close has the same
    * hazard at an arbitrary time), and the warm's memory-sink table is
    * dropped. */
  private[graft] def warmSocketSource(
      s: org.apache.spark.sql.SparkSession): Unit =
    try warmSocketSourceImpl(s)
    catch { case e: Throwable =>
      org.slf4j.LoggerFactory.getLogger("graft.Scans").warn(
        s"socket warm failed (continuing — the warm is an optimization, " +
          s"the first timed socket row just pays the first-touch): $e")
    }

  private def warmSocketSourceImpl(
      s: org.apache.spark.sql.SparkSession): Unit = {
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getLoopbackAddress)
    // Counted down once the drain is complete: the feeder holds its end
    // open until then, and only then closes writer + socket itself.
    val drained = new java.util.concurrent.CountDownLatch(1)
    val feeder = new Thread(() => {
      var sock: java.net.Socket = null
      var out: java.io.PrintWriter = null
      try {
        sock = server.accept()
        out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
          sock.getOutputStream, java.nio.charset.StandardCharsets.UTF_8))
        out.print("warm up\n")
        out.flush()
        drained.await(60, java.util.concurrent.TimeUnit.SECONDS): Unit
      } catch { case _: Throwable => () }
      finally {
        if (out != null) { try out.close() catch { case _: Throwable => () } }
        if (sock != null) { try sock.close() catch { case _: Throwable => () } }
      }
    }, "graft-socket-warm")
    feeder.setDaemon(true)
    feeder.start()
    val s2 = graft.Sessions.scoped(s, "spark.sql.shuffle.partitions" -> "1")
    val words = s2.readStream.format("socket")
      .option("host", server.getInetAddress.getHostAddress)
      .option("port", server.getLocalPort.toString)
      .load()
      .select(explode(split(col("value"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    val name = "graft_socket_warm_" + streamRuns.incrementAndGet()
    val q = words.writeStream.format("memory").queryName(name)
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(80))
      .start()
    try drainStream(q, 2L, "socket warm") { () =>
      val r = s2.table(name).agg(sum(col("n"))).collect()(0)
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    finally {
      drained.countDown()
      StreamingOps.stop(q)
      try server.close() catch { case _: Throwable => () }
      try s2.catalog.dropTempView(name) catch { case _: Throwable => () }
    }
  }

  private[graft] def warmDerby(s: org.apache.spark.sql.SparkSession,
      d: String): Unit = {
    val logDir = scratch(s, "jdbc", d)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(logDir))
    System.setProperty("derby.stream.error.file", s"$logDir/derby.log")
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    java.sql.DriverManager
      .getConnection("jdbc:derby:memory:graft_warm;create=true").close()
  }

  private val scanStateStore = Spec(
    "scan_state_store",
    """SELECT CAST(i % 7 AS BIGINT) AS k, COUNT(*) AS cnt
      |FROM range(0, 600) t(i) GROUP BY 1 ORDER BY 1""".stripMargin) {
    (s, d) =>
    s.read.format("statestore").option("path", statefulCheckpoint(s, d))
      .load()
      .select(col("key.k").as("k"), col("value.count").as("cnt"))
      .orderBy(col("k"))
  }

  /** Batch read of the same checkpoint's state METADATA via the
    * `state-metadata` source — the diagnostics twin of
    * `scan_state_store` (what stateful operators does this checkpoint
    * hold state for, under which store, over which batch range?), and
    * the first question an operator asks a misbehaving 100 TB streaming
    * pipeline before reaching for the state data itself. The run-to-end
    * single-batch build makes every field deterministic — operator 0 /
    * `stateStoreSave` / store `default`, exactly one shuffle partition,
    * batch range 0..0 — so the row gets a full VALUES-style oracle
    * instead of the weaker rows-only check. Shares the memoized
    * checkpoint build above: registering this row adds a metadata read,
    * not a second build. */
  private val scanStateMetadata = Spec(
    "scan_state_metadata",
    """SELECT CAST(0 AS BIGINT) AS operator_id,
      |  'stateStoreSave' AS operator_name,
      |  'default' AS store_name,
      |  1 AS num_partitions,
      |  CAST(0 AS BIGINT) AS min_batch_id,
      |  CAST(0 AS BIGINT) AS max_batch_id""".stripMargin) { (s, d) =>
    s.read.format("state-metadata").load(statefulCheckpoint(s, d))
      .select(col("operatorId").as("operator_id"),
        col("operatorName").as("operator_name"),
        col("stateStoreName").as("store_name"),
        col("numPartitions").as("num_partitions"),
        col("minBatchId").as("min_batch_id"),
        col("maxBatchId").as("max_batch_id"))
      .orderBy(col("operator_id"))
  }

  /** Hive-style partitioned parquet sink + partition-pruned read-back:
    * writes orders partitioned by o_orderstatus, reads back ONE partition.
    * The pruned scan never touches the other partitions' files — at 100 TB
    * this (plus date-bucketed paths) is what turns a full-table scan into a
    * directory listing. Oracle recomputes the same slice from the source
    * table (o_orderstatus is restored from the partition directory). */
  private val sinkPartitioned = Spec(
    "sink_partitioned",
    """SELECT o_orderkey, o_custkey, o_totalprice, 'P' AS o_orderstatus
      |FROM orders WHERE o_orderstatus = 'P'
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val tmp = scratch(s, "part_sink", d)
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(tmp)
    s.read.parquet(tmp)
      .filter(col("o_orderstatus") === "P") // partition-pruned, not scanned
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"))
      .orderBy(col("o_orderkey"))
  }

  /** Streaming file-source ingestion (the no-Kafka-jar stand-in for the
    * reference's topic source, SURVEY.md §0/§2.9): replays the events
    * staging ([[StreamingOps.eventsStream]]) through `readStream` + a
    * per-type aggregate into a memory sink, then returns the result as a
    * DataFrame. Batch/stream parity IS the oracle: the SQL recomputes the
    * same aggregate directly over the parquet. */
  private val sourceStreamFile = Spec(
    "source_stream_file",
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    val stream = StreamingOps.eventsStream(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Det.dsum6(col("value")).as("sum_value"))
    val name = "graft_src_stream_" + SessionMemo.pathKey(d)
    runToEnd("file source stream", stream.writeStream.format("memory")
      .queryName(name).outputMode("complete"))
    s.table(name).orderBy(col("event_type"))
  }

  /** Event-time windowed aggregation over the streaming FILE source — the
    * first registered streaming consumer that PROJECTS `ts`, which makes
    * the staged `ts` (already `Tables.events`' generation-normalized
    * session-local TIMESTAMP µs) load-bearing: the window boundaries are
    * computed from it, so the result is identical on the ns and µs
    * fixture generations (asserted per-generation in EdgeCasesSpec) and
    * identical to the
    * batch twin — which IS the oracle, the same stream/batch-parity
    * contract as `source_stream_file`. Window geometry (2 h, keyed by
    * window only) is distinct from every other windowed row
    * (1 h + type = stream_tumbling, 30 min + type = rocksdb demo,
    * 15 min sliding, 10 min = watermark_late), so the row exercises its
    * own plan. At 100 TB this is THE canonical ingest shape — unbounded
    * file arrivals → event-time buckets — shuffling on the window
    * expression with state per (window) key. Scale honesty: the demo
    * runs COMPLETE mode (deterministic one-shot replay of a finite
    * fixture; the same reasoning as `stream_watermark_late` — on fully
    * delivered data the watermark never fires, so batch == streaming),
    * but complete-mode window state is TIME-unbounded; the production
    * deployment of this exact plan adds `withWatermark` + update/append
    * mode so closed windows evict — the eviction semantics are
    * demonstrated and asserted by `stream_watermark_late`'s late-drop
    * test and the interval-join state-bound proofs
    * (StreamingRecoverySpec). */
  /** The 2-hour window shape itself, shared by the Spec body, the batch
    * twin, and the RocksDB provider proof (StreamingRecoverySpec) — one
    * definition, so the test's "same transform shape as the registered
    * row" claim is structural, not enforced by copy-paste. Works on batch
    * and streaming relations (pure column expressions). */
  private[graft] def twoHourWindowAgg(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ev.groupBy(window(col("ts"), "2 hours"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.Det.dsum6(col("value")).as("sum_value"))
      .select(unix_micros(col("window.start")).as("ws_us"),
        col("n_events"), col("sum_value"))

  private val sourceStreamWindow = Spec(
    "source_stream_window",
    """SELECT (epoch_us(ts) // 7200000000) * 7200000000 AS ws_us,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1
      |ORDER BY ws_us""".stripMargin) { (s, d) =>
    val stream = twoHourWindowAgg(StreamingOps.eventsStream(s, d))
    val name = "graft_src_stream_win_" + SessionMemo.pathKey(d)
    runToEnd("windowed file source stream", stream.writeStream
      .format("memory").queryName(name).outputMode("complete"))
    s.table(name).orderBy(col("ws_us"))
  }

  /** A JVM-wide counter for what must be unique per build: the embedded
    * Derby database of each `scan_jdbc` run, the memoized statestore
    * checkpoint and the socket warm's sink. A memory sink that a row
    * re-runs is named per (row, sfDir) instead: starting it again
    * replaces the temp view with the new sink, so the re-run reads a
    * fresh table and the session keeps one view per row. */
  private val streamRuns = new java.util.concurrent.atomic.AtomicInteger

  /** Poll-drain a running streaming query until `have()` reaches `target`
    * (shared by the rate and socket demos — one place owns the cap and the
    * poll policy). processAllAvailable flushes what the source has
    * delivered so far; sources that keep producing (rate) or deliver over
    * a network buffer (socket) need the poll loop. The hard cap is 120 s —
    * generous because multi-second machine-load stalls happen, and a cap
    * abort here would fail the correctness row, not just slow it. The
    * 10 ms poll keeps the loop cheap — processAllAvailable itself blocks
    * while the source has data, so the sleep only burns time when the
    * stream is truly idle.
    * `diag` is appended to the failure message so a feeder-side error
    * surfaces as the CAUSE instead of a bare timeout. */
  private def drainStream(q: org.apache.spark.sql.streaming.StreamingQuery,
      target: Long, what: String, diag: () => String = () => "")(
      have: () => Long): Unit = {
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    var n = -1L
    while (n < target && System.nanoTime() < deadline) {
      q.processAllAvailable()
      n = have()
      if (n < target) Thread.sleep(10)
    }
    require(n >= target, s"$what drained only $n of $target${diag()}")
  }

  /** Rate-source streaming demo (the last unexercised
    * public streaming source in the image; genre repos demo it as the
    * no-broker load generator). The rate family emits (timestamp, value)
    * with value a gapless 0,1,2,… sequence — timestamps are wall-clock
    * and unusable for a deterministic check, but the VALUE stream is
    * fully determined: the query ingests exactly the 0..N-1 prefix and
    * aggregates `value % 10` over it. The oracle recomputes the same
    * aggregate from a generated series — no fixture table involved,
    * which is itself the point: the source is the data. numPartitions=4
    * exercises the source's distributed shape (values are spread across
    * partitions, so the prefix provably needs all of them). It runs the
    * `rate-micro-batch` member of the family to its end (see the in-body
    * comment for why the wall-clock `rate` variant has a ~1 s drain
    * floor). */
  private val sourceStreamRate = Spec(
    "source_stream_rate",
    """SELECT CAST(i % 10 AS BIGINT) AS bucket, COUNT(*) AS n,
      |  CAST(SUM(i) AS BIGINT) AS sum_v
      |FROM range(0, 1000) t(i) GROUP BY 1 ORDER BY 1""".stripMargin) {
    (s, d) =>
    val n = 1000L
    // rate-MICRO-BATCH variant of the rate family: the
    // plain `rate` source advances its offset at whole-SECOND granularity
    // (rows available = elapsed_seconds × rowsPerSecond — measured, and
    // visible in RateStreamMicroBatchStream.latestOffset), which puts an
    // irreducible ~1 s wall-clock floor under any drain no matter how
    // high rowsPerSecond is set. `rate-micro-batch` is the deterministic
    // member Spark added for exactly this: batch k carries values
    // [k·rowsPerBatch, (k+1)·rowsPerBatch) with no wall-clock coupling,
    // so with rowsPerBatch = n the FIRST batch is precisely the 0..n-1
    // prefix and an AvailableNow run processes it and self-terminates —
    // no poll loop, no overshoot, ~0.3 s instead of ~1.6 s.
    val stream = s.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", n.toString)
      .option("numPartitions", "4")
      .load()
      .select(col("value"))
    val name = "graft_rate_stream_" + SessionMemo.pathKey(d)
    runToEnd("rate source", stream.writeStream.format("memory")
      .queryName(name).outputMode("append"))
    require(s.table(name).filter(col("value") < n).count() == n,
      s"rate source delivered an incomplete 0..${n - 1} prefix")
    s.table(name).filter(col("value") < n)
      .select((col("value") % 10).as("bucket"), col("value"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
      .orderBy(col("bucket"))
  }

  /** Socket-source streaming word count — the genre's canonical first
    * streaming demo (nc + socket wordcount), and with this row every
    * ServiceLoader-registered source in the image that is usable without
    * external infrastructure is exercised (parquet/csv/json/orc/avro/xml/
    * text/binaryFile/jdbc/statestore batch; file/rate/socket streaming
    * here, plus the memory source as MemoryStream throughout the
    * streaming parity suite) — no source is present but unexercised.
    * An in-process loopback ServerSocket stands in for `nc -lk`: it feeds
    * a deterministic 2-words-per-line corpus (`w{i%2} w{i%3}` for
    * i in 0..n-1), so the streamed explode→groupBy→count aggregate — run
    * in COMPLETE mode, a real continuous aggregation, not a post-drain
    * batch — has an exactly predictable answer the oracle recomputes from
    * a generated series. The drain condition is total word mass == 2n
    * (every line contributes exactly 2 words), polled on the
    * complete-mode snapshot; the feeder writes exactly n lines and keeps
    * the connection open, so the count can only converge to 2n, never
    * overshoot (the post-drain equality assertion pins that). */
  private val sourceStreamSocket = Spec(
    "source_stream_socket",
    """WITH t AS (SELECT i FROM range(0, 500) t(i)),
      |w AS (SELECT 'w' || CAST(i % 2 AS VARCHAR) AS word FROM t
      |      UNION ALL
      |      SELECT 'w' || CAST(i % 3 AS VARCHAR) AS word FROM t)
      |SELECT word, COUNT(*) AS n FROM w
      |GROUP BY word ORDER BY word""".stripMargin) { (s, d) =>
    val n = 500
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getLoopbackAddress)
    @volatile var accepted: java.net.Socket = null
    // A feeder failure must surface as the attributable CAUSE of a drain
    // shortfall, not as a bare 120 s timeout — record any feeder-side
    // Throwable (and PrintWriter's swallowed IOExceptions via
    // checkError) and splice it into the drain failure message.
    @volatile var feederErr: Throwable = null
    val feeder = new Thread(() => {
      try {
        val sock = server.accept()
        accepted = sock
        val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
          sock.getOutputStream, java.nio.charset.StandardCharsets.UTF_8))
        var i = 0
        while (i < n) { out.print(s"w${i % 2} w${i % 3}\n"); i += 1 }
        out.flush()
        if (out.checkError())
          feederErr = new java.io.IOException(
            "socket feeder: PrintWriter reported a write error")
        // connection stays open: EOF is not the completion signal, the
        // drain loop below is (the socket source is test-gear, not a
        // committed protocol — the engine's durable ingestion story is
        // source_stream_file's directory source).
      } catch { case t: Throwable => feederErr = t }
    }, "graft-socket-feeder")
    feeder.setDaemon(true)
    feeder.start()
    // One-shuffle-partition session clone: the complete-mode aggregate
    // commits per-shuffle-partition state every micro-batch, and a 5-key
    // word count needs exactly one.
    val s2 = graft.Sessions.scoped(s, "spark.sql.shuffle.partitions" -> "1")
    val words = s2.readStream.format("socket")
      .option("host", server.getInetAddress.getHostAddress)
      .option("port", server.getLocalPort.toString)
      .load()
      .select(explode(split(col("value"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    val name = "graft_socket_stream_" + SessionMemo.pathKey(d)
    // 80 ms trigger: the loopback feeder lands all n lines in the source
    // buffer within a few ms of connect, so spacing triggers lets one
    // micro-batch carry (nearly) everything instead of back-to-back
    // batches each paying plan + state-commit + sink-rewrite for a
    // line fragment (measured: ~0.2 s faster than Trigger(0) here).
    val q = words.writeStream.format("memory").queryName(name)
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(80))
      .start()
    def wordMass(): Long = {
      val r = s2.table(name).agg(sum(col("n"))).collect()(0)
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    def feederDiag(): String =
      if (feederErr == null) ""
      else s" (feeder failed: $feederErr)"
    try {
      drainStream(q, 2L * n, "socket source", () => feederDiag())(
        () => wordMass())
      // exactly 2n: the feeder wrote exactly n two-word lines
      require(wordMass() == 2L * n,
        s"socket source overshot: ${wordMass()} words, expected ${2L * n}")
    } finally {
      StreamingOps.stop(q)
      try { if (accepted != null) accepted.close() } catch {
        case _: Throwable => ()
      }
      try server.close() catch { case _: Throwable => () }
    }
    s2.table(name).orderBy(col("word"))
  }

  /** Streaming `foreachBatch` sink with the idempotent per-batch-directory
    * layout: each micro-batch overwrites `out/batch=<id>`, so a replayed
    * batch (the at-least-once delivery case) rewrites ITS OWN directory
    * instead of duplicating rows — this overwrite-by-batch-id pattern is
    * how exactly-once file output is built on Structured Streaming's
    * at-least-once foreachBatch contract in production. The read-back goes
    * through partition discovery (batch becomes a partition column) and
    * batch/stream parity is the oracle: the SQL computes the same
    * filtered projection straight from the source table. */
  private val sinkStreamForeach = Spec(
    "sink_stream_foreach",
    """SELECT event_id, user_id, value FROM events
      |WHERE event_type = 'purchase'
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    val out = scratch(s, "foreach_sink", d)
    // Clean the output root first: batch ids restart at 0 per invocation
    // (fresh temp checkpoint), so overwrite-by-batch-id only covers the
    // directories THIS run writes — stale batch=N dirs from an earlier run
    // with different batching would otherwise union into the read-back.
    rmRecursive(new java.io.File(out))
    runToEnd("foreachBatch sink stream", StreamingOps.eventsStream(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/batch=$id")
      })
    s.read.parquet(out)
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_id"))
  }

  /** Partition PRUNING on a hive-layout table — the static sibling of
    * `join_dpp`'s dynamic pruning, over the same memoized
    * customer-by-nation layout ([[Joins.dppCustomerLayout]]). A literal
    * predicate on the partition column never touches row data: it prunes
    * whole DIRECTORIES at planning time (PlanSpec pins the
    * `PartitionFilters` entry), so at 100 TB the scan bill is
    * |matching partitions| / |partitions| of the table regardless of row
    * count — the reason ingest pays for a partitioned layout at all. The
    * partition column comes back as the directory-inferred INT; it is
    * cast to BIGINT only in the emitted projection, NEVER inside the
    * filter (a cast above the partition-column reference can defeat the
    * pruning rule — the join_dpp lesson). */
  private val scanPartitionPrune = Spec(
    "scan_partition_prune",
    """SELECT c_custkey, c_acctbal, CAST(c_nationkey AS BIGINT) AS nation
      |FROM customer WHERE c_nationkey IN (3, 7)
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    s.read.parquet(Joins.dppCustomerLayout(s, d))
      .filter(col("c_nationkey").isin(3, 7))
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_nationkey").cast("bigint").as("nation"))
      .orderBy(col("c_custkey"))
  }

  /** Explicit compression-codec selection on the parquet sink
    * (`option("compression", "zstd")`) — a storage-efficiency lever that
    * matters at 100 TB (zstd trades ~10-30 % smaller files than the
    * snappy default for slightly more CPU — the right default for
    * cold/archival tiers). The codec is WITNESSED in-band: parquet
    * embeds the codec in the data-file name (`*.zstd.parquet`), so every
    * emitted row carries `is_zstd` computed from `_metadata.file_name`
    * and the oracle pins it TRUE — a silently-ignored option fails the
    * hash, not just a comment. */
  private val sinkCodecZstd = Spec(
    "sink_codec_zstd",
    """SELECT l_orderkey, l_linenumber, l_quantity, TRUE AS is_zstd
      |FROM lineitem WHERE l_orderkey % 100 = 0
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
    val loc = scratch(s, "zstd_sink", d)
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") % 100 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .write.mode("overwrite").option("compression", "zstd").parquet(loc)
    s.read.parquet(loc)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("_metadata.file_name").endsWith(".zstd.parquet").as("is_zstd"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** `writeStream.toTable` — the streaming CATALOG sink: micro-batches
    * append into a managed table instead of a raw path, so downstream
    * batch readers address it as `spark.table(name)` with the catalog
    * owning schema/location (at 100 TB: the bronze-layer landing table
    * every medallion pipeline starts with). Per-invocation hygiene is
    * the union of two prior lessons: the managed table's FILES outlive
    * the in-memory catalog across JVMs ([[freshManagedTable]]), and a
    * persisted CHECKPOINT would replay
    * nothing into the freshly-dropped table on re-invocation, silently
    * emitting zero rows — the checkpoint is removed with the table so
    * offsets restart with it. Batch/stream parity is the oracle: the
    * aggregate over the streamed-in table must hash-match the same
    * aggregate straight off the fixture. */
  private val sinkStreamTable = Spec(
    "sink_stream_table",
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    val tbl = freshManagedTable(s, "graft_stream_land", d)
    val cp = scratch(s, "stream_land_cp", d)
    rmRecursive(new java.io.File(cp))
    runToEnd("stream-to-table landing", StreamingOps.eventsStream(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
      .writeStream
      .option("checkpointLocation", cp), _.toTable(tbl))
    s.table(tbl)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Det.dsum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
  }
}
