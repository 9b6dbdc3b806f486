package graft.queries

import graft.sources.HiveDataset
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Driver-checkable witnesses for the dataset-I/O layer (the
  * reference's actual surface — SURVEY.md §2.1). Each query runs a
  * real write/append/read round trip through `HiveDataset` on a temp
  * dir, then aggregates the read-back so the result is comparable to
  * an oracle over the ORIGINAL table — proving the round trip is
  * lossless (and, for append/evolution, that the semantics match
  * hive_dataset.py:412-420, 158-181).
  */
object HiveQ {

  import Q.t

  // Every verify/bench sweep materializes full lineitem/orders
  // copies under these dirs; without cleanup, repeated gate runs
  // accumulate disk on long-lived hosts. One JVM shutdown hook
  // recursively deletes everything this process created (queries may
  // re-read their dir lazily mid-run, so deletion must wait for
  // process exit — deleteOnExit alone can't remove non-empty trees).
  private val tmpRoots = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tmpRoots.synchronized {
        tmpRoots.foreach { root =>
          try {
            Files.walk(root).sorted(java.util.Comparator.reverseOrder())
              .forEach(p => { try Files.deleteIfExists(p) catch { case _: Throwable => () } })
          } catch { case _: Throwable => () }
        }
      }))
  }

  private def tmp(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    tmpRoots.synchronized { tmpRoots += p }
    p.toString
  }

  val qs: Seq[Q] = Seq(

    // ---- write → targeted partition read (pruned scan) -----------
    // S10 + S14: dynamic-partition-overwrite write, then a
    // single-partition read (one directory listing, no full scan).
    Q("q20_hive_roundtrip",
      Some("""SELECT count(*) AS n,
             |  (sum(CAST(l_quantity AS DECIMAL(18,2))))::DOUBLE AS sum_qty
             |FROM lineitem WHERE l_returnflag = 'R'""".stripMargin),
      (s, dir) => {
        val ds = HiveDataset(tmp("graft_q20_"), Seq("l_returnflag"))(s)
        ds.write(t(s, dir, "lineitem"))
        ds.readPartition(Map("l_returnflag" -> "R")).get
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      }),

    // ---- append adds fragments, write-partitions survive ---------
    // S11 (hive_dataset.py:417-420): append the 'F' slice once more;
    // its partition doubles, others are untouched.
    Q("q21_hive_append",
      Some("""SELECT o_orderstatus,
             |  (count(*) * CASE WHEN o_orderstatus = 'F' THEN 2 ELSE 1 END)::BIGINT AS n
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
      (s, dir) => {
        val ds = HiveDataset(tmp("graft_q21_"), Seq("o_orderstatus"))(s)
        val orders = t(s, dir, "orders")
        ds.write(orders)
        ds.append(orders.where(col("o_orderstatus") === "F"))
        ds.scan().get
          .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
          .orderBy("o_orderstatus")
      }),

    // ---- row-level upsert (SCD-1 merge) --------------------------
    // Every 100th order is re-sent with o_custkey = -1; upsert
    // replaces exactly those rows in place (count unchanged, marker
    // count = replaced count per partition) and rewrites only the
    // touched partitions.
    Q("q169_hive_upsert",
      Some("""SELECT o_orderstatus, count(*)::BIGINT AS n,
             |  sum(CASE WHEN o_orderkey % 100 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_updated
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
      (s, dir) => {
        val ds = HiveDataset(tmp("graft_q169_"), Seq("o_orderstatus"))(s)
        val orders = t(s, dir, "orders")
        ds.write(orders)
        ds.upsert(
          orders.where(col("o_orderkey") % 100 === 0)
            .withColumn("o_custkey", lit(-1L)),
          Seq("o_orderkey"))
        ds.scan().get
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).cast("bigint").as("n"),
            sum(when(col("o_custkey") === -1L, 1L).otherwise(0L))
              .cast("bigint").as("n_updated"))
          .orderBy("o_orderstatus")
      }),

    // ---- fragment compaction: data invariant under rewrite -------
    // Three appends leave three fragments per partition; compact()
    // rewrites each partition as its minimal chunked set. The oracle
    // checks the DATA is untouched (3x each region row); the
    // fragment-count/naming mechanics are spec-pinned in
    // HiveDatasetSpec.
    Q("q96_hive_compact",
      Some("""SELECT r_name, (count(*) * 3)::BIGINT AS n,
             |  (sum(r_regionkey) * 3)::BIGINT AS key_sum
             |FROM region GROUP BY r_name ORDER BY r_name""".stripMargin),
      (s, dir) => {
        val ds = HiveDataset(tmp("graft_q96_"), Seq("r_name"))(s)
        val r = t(s, dir, "region")
        ds.write(r)
        ds.append(r)
        ds.append(r)
        ds.compact()
        ds.scan().get
          .groupBy("r_name")
          .agg(count(lit(1)).as("n"),
            sum(col("r_regionkey").cast("long")).as("key_sum"))
          .orderBy("r_name")
      }),

    // ---- schema evolution: superset read with null fill ----------
    // H7 (hive_dataset.py:158-181): fragments with different columns
    // merge to the superset; missing columns read as NULL.
    Q("q22_hive_schema_evolution",
      Some("""SELECT c_mktsegment, (count(*) * 2)::BIGINT AS n,
             |  count(c_acctbal) AS n_acctbal, count(c_name) AS n_name
             |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
      (s, dir) => {
        val ds = HiveDataset(tmp("graft_q22_"), Seq("c_mktsegment"))(s)
        val c = t(s, dir, "customer")
        ds.write(c.select("c_custkey", "c_acctbal", "c_mktsegment"))
        ds.append(c.select("c_custkey", "c_name", "c_mktsegment"))
        ds.scan().get
          .groupBy("c_mktsegment")
          .agg(
            count(lit(1)).as("n"),
            count(col("c_acctbal")).as("n_acctbal"),
            count(col("c_name")).as("n_name"))
          .orderBy("c_mktsegment")
      }),

    // ---- partition delete (S13, hive_dataset.py:330-342) ---------
    Q("q24_hive_delete",
      Some("""SELECT l_returnflag, count(*) AS n FROM lineitem
             |WHERE l_returnflag <> 'R' GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      (s, dir) => {
        val ds = HiveDataset(tmp("graft_q24_"), Seq("l_returnflag"))(s)
        ds.write(t(s, dir, "lineitem"))
        ds.deletePartition(Map("l_returnflag" -> "R"))
        ds.scan().get
          .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
          .orderBy("l_returnflag")
      }),

    // ---- managed (Delta view) time travel -------------------------
    // S15–S17 + the transaction log: write the 'O' orders slice
    // (v0), append the 'F' slice (v1 = O∪F), overwrite with the 'P'
    // slice (v2 = P alone — whole-table Delta overwrite semantics).
    // readVersion(1) must still see O∪F AFTER the overwrite (old data
    // files are immutable; the log pins the snapshot), while scan()
    // sees only P. Both snapshots aggregate per status against the
    // ORIGINAL table's oracle; `ver` keeps the 1-based labels 2 and 3.
    Q("q238_managed_time_travel",
      Some("""SELECT 2::BIGINT AS ver, o_orderstatus, count(*)::BIGINT AS n
             |FROM orders WHERE o_orderstatus IN ('F', 'O') GROUP BY o_orderstatus
             |UNION ALL
             |SELECT 3::BIGINT, o_orderstatus, count(*)::BIGINT FROM orders
             |WHERE o_orderstatus = 'P' GROUP BY o_orderstatus
             |ORDER BY ver, o_orderstatus""".stripMargin),
      (s, dir) => {
        val ds = graft.sources.ManagedDataset(tmp("graft_q238_"), Seq("o_orderstatus"))(s)
        val orders = t(s, dir, "orders")
        ds.write(orders.where(col("o_orderstatus") === "O"))
        ds.append(orders.where(col("o_orderstatus") === "F"))
        ds.write(orders.where(col("o_orderstatus") === "P"))
        val v2 = ds.readVersion(1).groupBy("o_orderstatus")
          .agg(count(lit(1)).cast("bigint").as("n")).withColumn("ver", lit(2L))
        val v3 = ds.scan().get.groupBy("o_orderstatus")
          .agg(count(lit(1)).cast("bigint").as("n")).withColumn("ver", lit(3L))
        v2.unionByName(v3)
          .select(col("ver"), col("o_orderstatus"), col("n"))
          .orderBy("ver", "o_orderstatus")
      }),

    // ---- file-stats skip scan -------------------------------------
    // The Delta data-skipping read: orders written range-clustered
    // on o_totalprice into 8 files with per-file min/max recorded in
    // the log's add stats; scanPruned drops the files whose
    // [min,max] misses [20000, 60000], scans ONLY the survivors, and
    // must equal the plain filter (the oracle). Pruning-really-skips
    // is pinned in ManagedDatasetSpec via the corrupted-file trick
    // (IVF-index precedent).
    Q("q246_stats_skip_scan",
      Some("""SELECT count(*)::BIGINT AS n, sum(o_orderkey)::BIGINT AS sum_key
             |FROM orders
             |WHERE o_totalprice >= 20000 AND o_totalprice <= 60000""".stripMargin),
      (s, dir) => {
        val ds = graft.sources.ManagedDataset(
          tmp("graft_q246_"), Nil, Seq("o_totalprice"))(s)
        ds.write(t(s, dir, "orders").repartitionByRange(8, col("o_totalprice")))
        ds.scanPruned("o_totalprice", "20000", "60000").get
          .agg(count(lit(1)).cast("bigint").as("n"),
            sum(col("o_orderkey")).cast("bigint").as("sum_key"))
      }),

    // ---- ORC source/sink round trip ------------------------------
    // Format breadth beyond parquet/CSV/JSONL: lineitem written as
    // ORC (Spark's built-in datasource — orc-core ships in the
    // runtime), read back, and aggregated; the oracle states the
    // same aggregate on the original parquet, so the round trip must
    // be lossless including the decimal-exact revenue discipline.
    Q("q262_orc_roundtrip",
      Some("""SELECT l_returnflag, count(*)::BIGINT AS n,
             |  (sum(CAST(l_quantity AS DECIMAL(18,2))))::DOUBLE AS sum_qty
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      (s, dir) => {
        val out = tmp("graft_q262_")
        t(s, dir, "lineitem").write.mode("overwrite").orc(s"$out/li_orc")
        s.read.orc(s"$out/li_orc")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).cast("bigint").as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
          .orderBy("l_returnflag")
      }),

    // ---- all-string CSV round trip (S18/S19, main.py:50-62) ------
    Q("q23_csv_roundtrip",
      Some("""SELECT r_regionkey::VARCHAR AS r_regionkey, r_name
             |FROM region ORDER BY 1""".stripMargin),
      (s, dir) => {
        val out = tmp("graft_q23_")
        t(s, dir, "region").coalesce(1)
          .write.option("header", "true").mode("overwrite").csv(out)
        s.read.option("header", "true").option("inferSchema", "false").csv(out)
          .select("r_regionkey", "r_name")
          .orderBy("r_regionkey")
      }),

    // ---- bloom equality skip scan ---------------------------------
    // Point lookup on a HASH-distributed (deliberately unclustered)
    // table: per-file min/max windows all overlap, but the per-file
    // blooms in the log's add tags drop every file not carrying the
    // probed key before any IO. Bloom-really-skips is pinned in
    // ManagedDatasetSpec via the corrupted-file trick; here the oracle
    // states plain-filter semantics.
    Q("q293_bloom_skip_scan",
      Some("""SELECT count(*)::BIGINT AS n,
             |  sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))::BIGINT AS sum_micro
             |FROM events WHERE user_id = 7""".stripMargin),
      (s, dir) => {
        val ds = graft.sources.ManagedDataset(
          tmp("graft_q293_"), Nil, Seq("user_id"))(s)
        ds.write(t(s, dir, "events").repartition(16, col("user_id")))
        ds.scanPrunedEquality("user_id", "7").get
          .agg(count(lit(1)).cast("bigint").as("n"),
            sum(expr("cast(floor(value * 1000000d + 0.5d) as bigint)"))
              .cast("bigint").as("sum_micro"))
      }),

    // ---- RESTORE + log row-count introspection -------------------
    // write -> append -> restore(v0): three versions whose logical
    // row counts come straight from the log's file stats (no data
    // IO); the oracle derives the same three counts from the source
    // table and numbers the versions 1..3.
    Q("q294_version_report",
      Some("""WITH t AS (SELECT count(*)::BIGINT AS n FROM orders),
             |f AS (SELECT count(*)::BIGINT AS n FROM orders WHERE o_orderstatus = 'F')
             |SELECT 1::BIGINT AS version, t.n AS n_rows FROM t
             |UNION ALL SELECT 2, t.n + f.n FROM t, f
             |UNION ALL SELECT 3, t.n FROM t
             |ORDER BY version""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val ds = graft.sources.ManagedDataset(
          tmp("graft_q294_"), Nil, Seq("o_orderkey"))(s)
        val orders = t(s, dir, "orders")
        ds.write(orders)
        ds.append(orders.where(col("o_orderstatus") === "F"))
        ds.restore(0L)
        ds.versionRowCounts().map { case (v, n) => (v + 1, n) }
          .toDF("version", "n_rows")
          .orderBy("version")
      }),

    // ---- MERGE INTO (upsert + delete) on the managed view --------
    // CDC-style merge: keys %10=3 update (+1000 price), the %30=3
    // subset deletes, keys %100=7 insert shifted clones; the oracle
    // states the expected final table directly.
    Q("q295_managed_merge",
      Some("""WITH fin AS (
             |  SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 10 <> 3
             |  UNION ALL
             |  SELECT o_orderstatus, o_totalprice + 1000 FROM orders
             |  WHERE o_orderkey % 10 = 3 AND o_orderkey % 30 <> 3
             |  UNION ALL
             |  SELECT 'N', o_totalprice FROM orders WHERE o_orderkey % 100 = 7)
             |SELECT o_orderstatus, count(*)::BIGINT AS n,
             |  (sum(CAST(o_totalprice AS DECIMAL(18,2))))::DOUBLE AS sum_price
             |FROM fin GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        val ds = graft.sources.ManagedDataset(
          tmp("graft_q295_"), Nil, Seq("o_orderkey"))(s)
        val orders = t(s, dir, "orders")
        ds.write(orders)
        val updates = orders.where(col("o_orderkey") % 10 === 3)
          .withColumn("o_totalprice", col("o_totalprice") + 1000)
        val inserts = orders.where(col("o_orderkey") % 100 === 7)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
          .withColumn("o_orderstatus", lit("N"))
        ds.merge(updates.unionByName(inserts), Seq("o_orderkey"),
          deleteWhen = Some(col("o_orderkey") % 30 === 3))
        ds.scan().get
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).cast("bigint").as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("sum_price"))
          .orderBy("o_orderstatus")
      }),

    // ---- JSONL round trip (completes the format matrix) ----------
    // parquet -> JSON-lines sink -> schema-pinned JSON source; the
    // oracle aggregates the original table, so the trip must be
    // lossless (ints and strings — the JSONL-safe core).
    Q("q304_jsonl_roundtrip",
      Some("""SELECT lang, count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS sum_chars,
             |  min(doc_id)::BIGINT AS min_id, max(doc_id)::BIGINT AS max_id
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
      (s, dir) => {
        val out = tmp("graft_q304_")
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .write.mode("overwrite").json(s"$out/docs_jsonl")
        s.read.schema("doc_id BIGINT, lang STRING, n_chars BIGINT")
          .json(s"$out/docs_jsonl")
          .groupBy(col("lang"))
          .agg(count(lit(1)).cast("bigint").as("n"),
            sum(col("n_chars")).cast("bigint").as("sum_chars"),
            min(col("doc_id")).cast("bigint").as("min_id"),
            max(col("doc_id")).cast("bigint").as("max_id"))
          .orderBy("lang")
      }),

    // ---- whole-schema FK audit sweep -----------------------------
    // Every foreign-key edge of the TPC-H-ish schema checked in one
    // pass: child rows whose key has no parent (left anti-join).
    Q("q305_fk_sweep",
      Some("""SELECT 'customer.nation' AS fk, (SELECT count(*) FROM customer
             |  WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))::BIGINT AS n_orphans
             |UNION ALL SELECT 'lineitem.orders', (SELECT count(*) FROM lineitem
             |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
             |UNION ALL SELECT 'lineitem.part', (SELECT count(*) FROM lineitem
             |  WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
             |UNION ALL SELECT 'nation.region', (SELECT count(*) FROM nation
             |  WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region))
             |UNION ALL SELECT 'orders.customer', (SELECT count(*) FROM orders
             |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
             |UNION ALL SELECT 'supplier.nation', (SELECT count(*) FROM supplier
             |  WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation))
             |ORDER BY fk""".stripMargin),
      (s, dir) => {
        import s.implicits._
        def orphans(name: String, child: org.apache.spark.sql.DataFrame,
                    ck: String, parent: org.apache.spark.sql.DataFrame,
                    pk: String) =
          child.select(col(ck).as("__k"))
            .join(parent.select(col(pk).as("__k")), Seq("__k"), "left_anti")
            .agg(count(lit(1)).cast("bigint").as("n_orphans"))
            .withColumn("fk", lit(name))
        val checks = Seq(
          orphans("customer.nation", t(s, dir, "customer"), "c_nationkey",
            t(s, dir, "nation"), "n_nationkey"),
          orphans("lineitem.orders", t(s, dir, "lineitem"), "l_orderkey",
            t(s, dir, "orders"), "o_orderkey"),
          orphans("lineitem.part", t(s, dir, "lineitem"), "l_partkey",
            t(s, dir, "part"), "p_partkey"),
          orphans("nation.region", t(s, dir, "nation"), "n_regionkey",
            t(s, dir, "region"), "r_regionkey"),
          orphans("orders.customer", t(s, dir, "orders"), "o_custkey",
            t(s, dir, "customer"), "c_custkey"),
          orphans("supplier.nation", t(s, dir, "supplier"), "s_nationkey",
            t(s, dir, "nation"), "n_nationkey"))
        checks.reduce(_ unionByName _)
          .select(col("fk"), col("n_orphans"))
          .orderBy("fk")
      }),

    // ---- ORC round trip with partition pruning -------------------
    // Write documents as lang-partitioned ORC, read back filtered to
    // two langs (the filter prunes at the partition level), and
    // aggregate — format coverage beyond parquet/CSV/JSONL; the
    // oracle computes the same aggregate from the parquet base.
    Q("q336_orc_roundtrip",
      Some("""SELECT source, count(*)::BIGINT AS n,
             |  sum(n_chars)::BIGINT AS sum_chars,
             |  min(doc_id)::BIGINT AS min_id, max(doc_id)::BIGINT AS max_id
             |FROM documents WHERE lang IN ('en', 'de')
             |GROUP BY source ORDER BY source""".stripMargin),
      (s, dir) => {
        val out = tmp("graft_q336_")
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .write.mode("overwrite").partitionBy("lang").orc(s"$out/docs_orc")
        s.read.orc(s"$out/docs_orc")
          .where(col("lang").isin("en", "de"))
          .groupBy(col("source"))
          .agg(count(lit(1)).cast("bigint").as("n"),
            sum(col("n_chars")).cast("bigint").as("sum_chars"),
            min(col("doc_id")).cast("bigint").as("min_id"),
            max(col("doc_id")).cast("bigint").as("max_id"))
          .orderBy("source")
      }),

    // ---- opaque-binary ingestion (binaryFile source) -------------
    // The multimodal ingestion front door: write lang-partitioned
    // raw text files, re-ingest them as OPAQUE BINARY (path +
    // length, content lazily loadable), recover the partition key
    // from the path, and audit total bytes — which must equal the
    // UTF-8 octet length of every document plus its newline,
    // regardless of how many files each partition split into.
    Q("q337_binary_ingest",
      Some("""SELECT lang,
             |  sum(octet_length(encode(text)) + 1)::BIGINT AS total_bytes
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
      (s, dir) => {
        val out = tmp("graft_q337_")
        t(s, dir, "documents")
          .select(col("text"), col("lang"))
          .write.mode("overwrite").partitionBy("lang").text(s"$out/docs_txt")
        s.read.format("binaryFile")
          .option("pathGlobFilter", "*.txt").load(s"$out/docs_txt")
          .withColumn("lang", regexp_extract(col("path"), "lang=([^/]+)", 1))
          .groupBy(col("lang"))
          .agg(sum(col("length")).cast("bigint").as("total_bytes"))
          .orderBy("lang")
      }),

    // ---- CHECK-constraint ingestion gate -------------------------
    // Delta-style table constraint: after registering
    // o_totalprice > 0, a batch carrying a poisoned row is rejected
    // WHOLESALE (nothing lands — no version, no files), while clean
    // batches keep flowing. The read-back proves exactly one 'F'
    // re-append made it through: F counts double, the poisoned batch
    // contributes nothing.
    Q("q369_managed_constraints",
      Some("""SELECT o_orderstatus,
             |  (count(*) * CASE WHEN o_orderstatus = 'F' THEN 2 ELSE 1 END)::BIGINT AS n
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
      (s, dir) => {
        val ds = graft.sources.ManagedDataset(
          tmp("graft_q369_") + "/ds", Nil)(s)
        val orders = t(s, dir, "orders")
        ds.write(orders)
        ds.addConstraint("positive_price", "o_totalprice > 0")
        val poisoned = orders.where(col("o_orderstatus") === "O").limit(10)
          .withColumn("o_totalprice", lit(-1.0))
        val rejected =
          try { ds.append(poisoned); false }
          catch { case e: IllegalArgumentException =>
            e.getMessage.contains("positive_price") }
        require(rejected, "q369: the poisoned batch must be rejected")
        ds.append(orders.where(col("o_orderstatus") === "F"))
        ds.scan().get
          .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
          .orderBy("o_orderstatus")
      }),

    // ---- read-only Delta protocol interop ------------------------
    // A REAL Delta table (the public delta.io _delta_log JSON format
    // that delta-rs/delta-spark write — hand-authored here since no
    // delta jars ship in this env) replayed by DeltaReader: commit 0
    // adds one file per nation region partition, commit 1 removes
    // region 2's file. The snapshot read must see exactly the four
    // survivors with partition values re-attached from the log.
    // Reference surface: delta_dataset.py:41-62 (read_partition/scan).
    Q("q378_delta_read",
      Some("""SELECT n_regionkey::BIGINT AS n_regionkey,
             |  count(*)::BIGINT AS n, sum(n_nationkey)::BIGINT AS sum_key
             |FROM nation WHERE n_regionkey <> 2
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        import java.nio.file.Paths
        val table = tmp("graft_q378_")
        val nat = t(s, dir, "nation")
        val dataCols = nat.schema.fieldNames.filterNot(_ == "n_regionkey")
        val regions = nat.select(col("n_regionkey").cast("string"))
          .distinct().collect().map(_.getString(0)).sorted
        regions.foreach { r =>
          val frag = Files.createTempDirectory("graft_q378_frag")
          nat.where(col("n_regionkey").cast("string") === r)
            .select(dataCols.map(col): _*).coalesce(1)
            .write.mode("overwrite").parquet(frag.toString)
          val part = Files.list(frag)
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .findFirst().get()
          val dest = Paths.get(table, s"n_regionkey=$r", "f0.parquet")
          Files.createDirectories(dest.getParent)
          Files.copy(part, dest)
          org.apache.commons.io.FileUtils.deleteQuietly(frag.toFile)
        }
        val logDir = Paths.get(table, "_delta_log")
        Files.createDirectories(logDir)
        val schemaJson = nat.schema.json
          .replace("\\", "\\\\").replace("\"", "\\\"")
        def addJ(r: String) =
          s"""{"add":{"path":"n_regionkey=$r/f0.parquet","partitionValues":""" +
            s"""{"n_regionkey":"$r"},"size":100,""" +
            s""""modificationTime":1700000000000,"dataChange":true}}"""
        val head = Seq(
          """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
          s"""{"metaData":{"id":"q378","format":{"provider":"parquet",""" +
            s""""options":{}},"schemaString":"$schemaJson",""" +
            s""""partitionColumns":["n_regionkey"],"configuration":{},""" +
            s""""createdTime":1700000000000}}""")
        Files.write(logDir.resolve(f"${0L}%020d.json"),
          ((head ++ regions.map(addJ)).mkString("\n") + "\n").getBytes("UTF-8"))
        Files.write(logDir.resolve(f"${1L}%020d.json"),
          ("""{"remove":{"path":"n_regionkey=2/f0.parquet",""" +
            """"deletionTimestamp":1700000001000,"dataChange":true}}""" + "\n")
            .getBytes("UTF-8"))
        graft.sources.DeltaReader.scan(table)(s).get
          .groupBy(col("n_regionkey").cast("bigint").as("n_regionkey"))
          .agg(count(lit(1)).cast("bigint").as("n"),
            sum(col("n_nationkey")).cast("bigint").as("sum_key"))
          .orderBy("n_regionkey")
      })
    ,

    // ---- Delta write/append/overwrite round trip -----------------
    // The write half of the Delta interop story: create a real
    // `_delta_log` table with the reference's dataset surface,
    // append, log-level overwrite, then read every version back by
    // time travel — v0 full, v1 += shifted region-2 clone, v2 only
    // region 0 (old files kept on disk for the travel reads).
    Q("q387_delta_write",
      Some("""WITH n0 AS (SELECT count(*)::BIGINT AS n,
             |  sum(n_nationkey)::BIGINT AS s FROM nation),
             |n1 AS (SELECT count(*)::BIGINT AS n,
             |  sum(n_nationkey + 100)::BIGINT AS s FROM nation
             |  WHERE n_regionkey = 2),
             |n2 AS (SELECT count(*)::BIGINT AS n,
             |  sum(n_nationkey)::BIGINT AS s FROM nation
             |  WHERE n_regionkey = 0)
             |SELECT 0::BIGINT AS version, n0.n AS n_rows, n0.s AS sum_key
             |  FROM n0
             |UNION ALL SELECT 1::BIGINT, n0.n + n1.n, n0.s + n1.s FROM n0, n1
             |UNION ALL SELECT 2::BIGINT, n2.n, n2.s FROM n2
             |ORDER BY version""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val table = tmp("graft_q387_")
        val nat = t(s, dir, "nation")
        val ds = new graft.sources.DeltaDataset(table, Seq("n_regionkey"))
        ds.write(nat)
        ds.append(nat.where(col("n_regionkey") === 2)
          .withColumn("n_nationkey", col("n_nationkey") + lit(100)))
        ds.write(nat.where(col("n_regionkey") === 0))
        (0L to 2L).map { v =>
          graft.sources.DeltaReader.scan(table, Some(v))(s).get
            .agg(count(lit(1)).cast("bigint").as("n_rows"),
              sum(col("n_nationkey")).cast("bigint").as("sum_key"))
            .select(lit(v).cast("bigint").as("version"),
              col("n_rows"), col("sum_key"))
        }.reduce(_ unionByName _).orderBy("version")
      })
    ,

    // ---- deletion-vector read (the `deletionVectors` feature) ----
    // A Delta table whose single sorted fragment carries an INLINE
    // roaring deletion vector masking every row index ≡ 1 (mod 3) —
    // the protocol shape Databricks writes by default. The scan must
    // return exactly the unmasked rows; the oracle recomputes the
    // row-index mask relationally (rank = row index, the fragment
    // being sorted). Formats: PROTOCOL.md DV descriptor + Z85 +
    // 64-bit RoaringBitmapArray, all hand-assembled — no delta jars.
    Q("q401_delta_dv_read",
      Some("""WITH r AS (SELECT n_nationkey,
             |  row_number() OVER (ORDER BY n_nationkey) - 1 AS ri
             |  FROM nation)
             |SELECT n_nationkey::BIGINT AS n_nationkey FROM r
             |WHERE ri % 3 <> 1 ORDER BY n_nationkey""".stripMargin),
      (s, dir) => {
        import java.nio.file.Paths
        val table = tmp("graft_q401_")
        val nat = t(s, dir, "nation")
        val frag = Files.createTempDirectory("graft_q401_frag")
        nat.repartition(1).sortWithinPartitions("n_nationkey")
          .write.mode("overwrite").parquet(frag.toString)
        val part = Files.list(frag)
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        Files.createDirectories(Paths.get(table))
        Files.copy(part, Paths.get(table, "f0.parquet"))
        org.apache.commons.io.FileUtils.deleteQuietly(frag.toFile)
        val n = nat.count()
        val masked = (0L until n).filter(_ % 3 == 1)
        val dvData = graft.sources.DeletionVectors.serialize(masked)
        val padded =
          if (dvData.length % 4 == 0) dvData
          else java.util.Arrays.copyOf(dvData,
            dvData.length + (4 - dvData.length % 4))
        val inline = graft.sources.DeletionVectors.z85Encode(padded)
        val schemaJson = nat.schema.json
          .replace("\\", "\\\\").replace("\"", "\\\"")
        val logDir = Paths.get(table, "_delta_log")
        Files.createDirectories(logDir)
        Files.write(logDir.resolve(f"${0L}%020d.json"), (Seq(
          """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
            """"readerFeatures":["deletionVectors"],""" +
            """"writerFeatures":["deletionVectors"]}}""",
          s"""{"metaData":{"id":"q401","format":{"provider":"parquet",""" +
            s""""options":{}},"schemaString":"$schemaJson",""" +
            s""""partitionColumns":[],"configuration":{},""" +
            s""""createdTime":1700000000000}}""",
          s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":100,""" +
            s""""modificationTime":1700000000000,"dataChange":true,""" +
            s""""deletionVector":{"storageType":"i",""" +
            s""""pathOrInlineDv":"$inline","sizeInBytes":${dvData.length},""" +
            s""""cardinality":${masked.size}}}}""")
          .mkString("\n") + "\n").getBytes("UTF-8"))
        graft.sources.DeltaReader.scan(table)(s).get
          .select(col("n_nationkey").cast("bigint").as("n_nationkey"))
          .orderBy("n_nationkey")
      })
    ,

    // ---- checkpoint write + anchored replay ----------------------
    // DeltaWriter checkpoints every `delta.checkpointInterval`
    // commits (set to 2 in the creating commit): three appends later
    // the v2 checkpoint exists, the covered JSON tail is VACUUMED,
    // and the scan must still reassemble all four slices — replay
    // anchored at the writer's own checkpoint, exactly what keeps a
    // long-lived table's open cost O(interval) for any reader.
    Q("q402_delta_checkpoint",
      Some("""SELECT count(*)::BIGINT AS n_rows,
             |  sum(s_suppkey)::BIGINT AS sum_key,
             |  count(DISTINCT s_nationkey)::BIGINT AS n_nations
             |FROM supplier""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        import java.nio.file.Paths
        val table = tmp("graft_q402_")
        val sup = t(s, dir, "supplier")
        // slice 0 lands as a hand-built creating commit so the table
        // can carry the checkpointInterval property (the reference
        // writer surface has no table-property API)
        val frag = Files.createTempDirectory("graft_q402_frag")
        sup.where(col("s_suppkey") % 4 === 0)
          .coalesce(1).write.mode("overwrite").parquet(frag.toString)
        val part = Files.list(frag)
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        Files.createDirectories(Paths.get(table))
        Files.copy(part, Paths.get(table, "f0.parquet"))
        org.apache.commons.io.FileUtils.deleteQuietly(frag.toFile)
        val schemaJson = sup.schema.json
          .replace("\\", "\\\\").replace("\"", "\\\"")
        val logDir = Paths.get(table, "_delta_log")
        Files.createDirectories(logDir)
        Files.write(logDir.resolve(f"${0L}%020d.json"), (Seq(
          """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
          s"""{"metaData":{"id":"q402","format":{"provider":"parquet",""" +
            s""""options":{}},"schemaString":"$schemaJson",""" +
            s""""partitionColumns":[],""" +
            s""""configuration":{"delta.checkpointInterval":"2"},""" +
            s""""createdTime":1700000000000}}""",
          s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":100,""" +
            s""""modificationTime":1700000000000,"dataChange":true}}""")
          .mkString("\n") + "\n").getBytes("UTF-8"))
        val ds = new graft.sources.DeltaDataset(table)
        (1 to 3).foreach { i =>
          ds.append(sup.where(col("s_suppkey") % 4 === i))
        }
        require(Files.exists(
          logDir.resolve(f"${2L}%020d.checkpoint.parquet")),
          "q402: the v2 checkpoint must exist")
        // vacuum the covered tail: replay now NEEDS the checkpoint
        (0L to 2L).foreach(v =>
          Files.delete(logDir.resolve(f"$v%020d.json")))
        ds.scan().get.agg(
          count(lit(1)).cast("bigint").as("n_rows"),
          sum(col("s_suppkey")).cast("bigint").as("sum_key"),
          countDistinct(col("s_nationkey")).cast("bigint").as("n_nations"))
      })
    ,

    // ---- row-level DELETE via deletion vectors -------------------
    // Two stacked deletes on a real Delta table — status purge, then
    // a modulo kill list landing on the SAME already-masked files —
    // with no data-file rewrite: masks merge into fresh sidecars,
    // the protocol upgrades to the deletionVectors feature in the
    // first delete's commit, and every pre-delete version stays one
    // time-travel hop away.
    Q("q406_delta_delete",
      Some("""WITH o AS (SELECT o_orderkey, o_orderstatus FROM orders
             |  WHERE o_orderkey < 3000)
             |SELECT 0::BIGINT AS version, count(*)::BIGINT AS n_rows,
             |  sum(o_orderkey)::BIGINT AS sum_key FROM o
             |UNION ALL SELECT 1::BIGINT, count(*)::BIGINT,
             |  sum(o_orderkey)::BIGINT FROM o WHERE o_orderstatus <> 'F'
             |UNION ALL SELECT 2::BIGINT, count(*)::BIGINT,
             |  sum(o_orderkey)::BIGINT FROM o
             |  WHERE o_orderstatus <> 'F' AND o_orderkey % 10 <> 0
             |ORDER BY version""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val table = tmp("graft_q406_")
        val ds = new graft.sources.DeltaDataset(table)
        ds.write(t(s, dir, "orders").where(col("o_orderkey") < 3000))
        ds.delete(col("o_orderstatus") === "F")
        ds.delete(col("o_orderkey") % 10 === 0)
        (0L to 2L).map { v =>
          graft.sources.DeltaReader.scan(table, Some(v))(s).get
            .agg(count(lit(1)).cast("bigint").as("n_rows"),
              sum(col("o_orderkey")).cast("bigint").as("sum_key"))
            .select(lit(v).cast("bigint").as("version"),
              col("n_rows"), col("sum_key"))
        }.reduce(_ unionByName _).orderBy("version")
      })
    ,

    // ---- DV purge: OPTIMIZE after stacked deletes ----------------
    // The compaction loop a delete-absorbing table needs: two stacked
    // DV deletes, then optimize(0) rewrites every masked file
    // (dataChange=false adds, removes of file+mask) — version 3 must
    // read IDENTICAL to version 2 while the head snapshot carries no
    // deletion vectors at all, and versions 0-2 stay one time-travel
    // hop away.
    Q("q409_delta_optimize",
      Some("""WITH o AS (SELECT o_orderkey, o_orderstatus FROM orders
             |  WHERE o_orderkey < 3000)
             |SELECT 0::BIGINT AS version, count(*)::BIGINT AS n_rows,
             |  sum(o_orderkey)::BIGINT AS sum_key FROM o
             |UNION ALL SELECT 1::BIGINT, count(*)::BIGINT,
             |  sum(o_orderkey)::BIGINT FROM o WHERE o_orderstatus <> 'F'
             |UNION ALL SELECT 2::BIGINT, count(*)::BIGINT,
             |  sum(o_orderkey)::BIGINT FROM o
             |  WHERE o_orderstatus <> 'F' AND o_orderkey % 10 <> 0
             |UNION ALL SELECT 3::BIGINT, count(*)::BIGINT,
             |  sum(o_orderkey)::BIGINT FROM o
             |  WHERE o_orderstatus <> 'F' AND o_orderkey % 10 <> 0
             |ORDER BY version""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val table = tmp("graft_q409_")
        val ds = new graft.sources.DeltaDataset(table)
        ds.write(t(s, dir, "orders").where(col("o_orderkey") < 3000))
        ds.delete(col("o_orderstatus") === "F")
        ds.delete(col("o_orderkey") % 10 === 0)
        val v3 = ds.optimize(0.0)
        require(v3 == 3L, s"q409: optimize must commit version 3, got $v3")
        val head = graft.sources.DeltaReader.snapshot(table)(s).get
        require(head.files.forall(_.deletionVector.isEmpty),
          "q409: the optimized head must carry no deletion vectors")
        (0L to 3L).map { v =>
          graft.sources.DeltaReader.scan(table, Some(v))(s).get
            .agg(count(lit(1)).cast("bigint").as("n_rows"),
              sum(col("o_orderkey")).cast("bigint").as("sum_key"))
            .select(lit(v).cast("bigint").as("version"),
              col("n_rows"), col("sum_key"))
        }.reduce(_ unionByName _).orderBy("version")
      })
    ,

    // ---- v2 checkpoint read (manifest + sidecars) ----------------
    // A long-lived Databricks/OSS-Delta table checkpoints in the V2
    // form: a UUID-named manifest (checkpointMetadata + non-file
    // actions + sidecar pointers) with the add/remove actions split
    // across parquet sidecars under _delta_log/_sidecars/. Three
    // supplier slices land as ordinary commits, the v2 checkpoint is
    // hand-assembled at version 2 (two sidecars), the covered JSON
    // tail is vacuumed, a fourth slice appends — the scan must
    // reassemble all four slices, replay anchored at the v2 manifest.
    Q("q407_delta_v2_checkpoint",
      Some("""SELECT count(*)::BIGINT AS n_rows,
             |  sum(s_suppkey)::BIGINT AS sum_key,
             |  count(DISTINCT s_nationkey)::BIGINT AS n_nations
             |FROM supplier""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        import java.nio.file.Paths
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types._
        val table = tmp("graft_q407_")
        val sup = t(s, dir, "supplier")
        // creating commit is hand-built so the table declares the
        // v2Checkpoint feature from birth (the protocol requires it
        // before v2 checkpoints may exist)
        val frag = Files.createTempDirectory("graft_q407_frag")
        sup.where(col("s_suppkey") % 4 === 0)
          .coalesce(1).write.mode("overwrite").parquet(frag.toString)
        val part0 = Files.list(frag)
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        Files.createDirectories(Paths.get(table))
        Files.copy(part0, Paths.get(table, "f0.parquet"))
        org.apache.commons.io.FileUtils.deleteQuietly(frag.toFile)
        val schemaJson = sup.schema.json
          .replace("\\", "\\\\").replace("\"", "\\\"")
        val protoLine =
          """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
            """"readerFeatures":["v2Checkpoint"],""" +
            """"writerFeatures":["v2Checkpoint"]}}"""
        val metaLine =
          s"""{"metaData":{"id":"q407","format":{"provider":"parquet",""" +
            s""""options":{}},"schemaString":"$schemaJson",""" +
            s""""partitionColumns":[],"configuration":{},""" +
            s""""createdTime":1700000000000}}"""
        val logDir = Paths.get(table, "_delta_log")
        Files.createDirectories(logDir)
        Files.write(logDir.resolve(f"${0L}%020d.json"), (Seq(
          protoLine, metaLine,
          s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":100,""" +
            s""""modificationTime":1700000000000,"dataChange":true}}""")
          .mkString("\n") + "\n").getBytes("UTF-8"))
        val ds = new graft.sources.DeltaDataset(table)
        (1 to 2).foreach(i => ds.append(sup.where(col("s_suppkey") % 4 === i)))
        // hand-assemble the v2 checkpoint at version 2: the live adds
        // split across TWO parquet sidecars + a UUID-named manifest
        val snap = graft.sources.DeltaReader.snapshot(table)(s).get
        val addSchema = StructType(Seq(StructField("add", StructType(Seq(
          StructField("path", StringType),
          StructField("partitionValues", MapType(StringType, StringType)),
          StructField("size", LongType),
          StructField("modificationTime", LongType),
          StructField("dataChange", BooleanType))))))
        def sidecar(files: Seq[graft.sources.DeltaReader.DeltaFile],
                    name: String): Unit = {
          import scala.jdk.CollectionConverters._
          val rows = files.map(f => Row(Row(
            new org.apache.hadoop.fs.Path(f.path).getName,
            Map.empty[String, String], f.size, f.modificationTime, false)))
          val tmpDir = Files.createTempDirectory("graft_q407_sc")
          s.createDataFrame(rows.asJava, addSchema)
            .coalesce(1).write.mode("overwrite").parquet(tmpDir.toString)
          val part = Files.list(tmpDir)
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .findFirst().get()
          val dest = logDir.resolve("_sidecars").resolve(name)
          Files.createDirectories(dest.getParent)
          Files.copy(part, dest)
          org.apache.commons.io.FileUtils.deleteQuietly(tmpDir.toFile)
        }
        val (scA, scB) = snap.files.splitAt(1)
        sidecar(scA, "sc-a.parquet")
        sidecar(scB, "sc-b.parquet")
        Files.write(
          logDir.resolve(f"${2L}%020d.checkpoint.9a1b2c3d-0000-4e79-81be-000000000002.json"),
          (Seq("""{"checkpointMetadata":{"version":2,"tags":{}}}""",
            protoLine, metaLine,
            """{"sidecar":{"path":"sc-a.parquet","sizeInBytes":100,""" +
              """"modificationTime":1700000000000}}""",
            """{"sidecar":{"path":"sc-b.parquet","sizeInBytes":100,""" +
              """"modificationTime":1700000000000}}""")
            .mkString("\n") + "\n").getBytes("UTF-8"))
        // vacuum the covered tail: replay now NEEDS the v2 manifest
        (0L to 2L).foreach(v =>
          Files.delete(logDir.resolve(f"$v%020d.json")))
        ds.append(sup.where(col("s_suppkey") % 4 === 3))
        ds.scan().get.agg(
          count(lit(1)).cast("bigint").as("n_rows"),
          sum(col("s_suppkey")).cast("bigint").as("sum_key"),
          countDistinct(col("s_nationkey")).cast("bigint").as("n_nations"))
      })
    ,

    // ---- v2 checkpoint WRITE (delta.checkpointPolicy=v2) ---------
    // The maintenance loop for v2-native tables: with the policy
    // property set (and the feature declared), the writer checkpoints
    // in the V2 form — UUID-named manifest + parquet sidecar under
    // _sidecars/ — and its own reader replays anchored there after
    // the covered JSON tail is vacuumed.
    Q("q413_delta_v2_cp_write",
      Some("""SELECT count(*)::BIGINT AS n_rows,
             |  sum(s_suppkey)::BIGINT AS sum_key,
             |  count(DISTINCT s_nationkey)::BIGINT AS n_nations
             |FROM supplier""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        import java.nio.file.Paths
        val table = tmp("graft_q413_")
        val sup = t(s, dir, "supplier")
        val frag = Files.createTempDirectory("graft_q413_frag")
        sup.where(col("s_suppkey") % 4 === 0)
          .coalesce(1).write.mode("overwrite").parquet(frag.toString)
        val part0 = Files.list(frag)
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        Files.createDirectories(Paths.get(table))
        Files.copy(part0, Paths.get(table, "f0.parquet"))
        org.apache.commons.io.FileUtils.deleteQuietly(frag.toFile)
        val schemaJson = sup.schema.json
          .replace("\\", "\\\\").replace("\"", "\\\"")
        val logDir = Paths.get(table, "_delta_log")
        Files.createDirectories(logDir)
        Files.write(logDir.resolve(f"${0L}%020d.json"), (Seq(
          """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
            """"readerFeatures":["v2Checkpoint"],""" +
            """"writerFeatures":["v2Checkpoint"]}}""",
          s"""{"metaData":{"id":"q413","format":{"provider":"parquet",""" +
            s""""options":{}},"schemaString":"$schemaJson",""" +
            s""""partitionColumns":[],""" +
            s""""configuration":{"delta.checkpointInterval":"2",""" +
            s""""delta.checkpointPolicy":"v2"},""" +
            s""""createdTime":1700000000000}}""",
          s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":100,""" +
            s""""modificationTime":1700000000000,"dataChange":true}}""")
          .mkString("\n") + "\n").getBytes("UTF-8"))
        val ds = new graft.sources.DeltaDataset(table)
        (1 to 3).foreach(i => ds.append(sup.where(col("s_suppkey") % 4 === i)))
        val manifests = Files.list(logDir).toArray.map(_.toString)
          .map(p => Paths.get(p).getFileName.toString)
          .filter(n => n.startsWith(f"${2L}%020d.checkpoint.") &&
            n != f"${2L}%020d.checkpoint.parquet")
        require(manifests.length == 1,
          s"q413: exactly one v2 manifest expected, got ${manifests.toSeq}")
        require(Files.list(logDir.resolve("_sidecars")).count() >= 1,
          "q413: the v2 sidecar must exist")
        (0L to 2L).foreach(v =>
          Files.delete(logDir.resolve(f"$v%020d.json")))
        ds.scan().get.agg(
          count(lit(1)).cast("bigint").as("n_rows"),
          sum(col("s_suppkey")).cast("bigint").as("sum_key"),
          countDistinct(col("s_nationkey")).cast("bigint").as("n_nations"))
      })
    ,

    // ---- CHECK constraints gate the write path -------------------
    // A table carrying delta.constraints.* properties (the
    // checkConstraints feature): a conforming append lands, a
    // violating one refuses LOUDLY with the constraint named and
    // leaves no commit behind — the scan sees only conforming rows.
    Q("q414_delta_check",
      Some("""SELECT count(*)::BIGINT AS n_rows,
             |  sum(n_nationkey)::BIGINT AS sum_key FROM nation""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        import java.nio.file.Paths
        val table = tmp("graft_q414_")
        val nat = t(s, dir, "nation")
        val schemaJson = nat.schema.json
          .replace("\\", "\\\\").replace("\"", "\\\"")
        val logDir = Paths.get(table, "_delta_log")
        Files.createDirectories(logDir)
        Files.write(logDir.resolve(f"${0L}%020d.json"), (Seq(
          """{"protocol":{"minReaderVersion":1,"minWriterVersion":3}}""",
          s"""{"metaData":{"id":"q414","format":{"provider":"parquet",""" +
            s""""options":{}},"schemaString":"$schemaJson",""" +
            s""""partitionColumns":[],""" +
            s""""configuration":{"delta.constraints.region_range":""" +
            s""""n_regionkey >= 0 AND n_regionkey < 5"},""" +
            s""""createdTime":1700000000000}}""")
          .mkString("\n") + "\n").getBytes("UTF-8"))
        val ds = new graft.sources.DeltaDataset(table)
        ds.append(nat) // every region key is 0-4: conforms
        val refused =
          try { ds.append(nat.withColumn("n_regionkey",
            col("n_regionkey") + lit(10))); false }
          catch { case e: IllegalArgumentException =>
            e.getMessage.contains("region_range") }
        require(refused, "q414: the violating append must refuse by name")
        ds.scan().get.agg(
          count(lit(1)).cast("bigint").as("n_rows"),
          sum(col("n_nationkey")).cast("bigint").as("sum_key"))
      })
    ,

    // ---- VACUUM: physical reclamation after OPTIMIZE -------------
    // The full DV lifecycle: delete masks rows, optimize rewrites the
    // masked files, vacuum(0) physically reclaims the tombstoned
    // originals and their sidecars — the head must read identically
    // with strictly fewer files on disk.
    Q("q411_delta_vacuum",
      Some("""SELECT count(*)::BIGINT AS n_rows,
             |  sum(o_orderkey)::BIGINT AS sum_key FROM orders
             |WHERE o_orderkey < 3000 AND o_orderstatus <> 'F'""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        import java.nio.file.Paths
        val table = tmp("graft_q411_")
        val ds = new graft.sources.DeltaDataset(table)
        ds.write(t(s, dir, "orders").where(col("o_orderkey") < 3000))
        ds.delete(col("o_orderstatus") === "F")
        ds.optimize(0.0)
        def parquetCount: Long = {
          val b = Paths.get(table)
          var n = 0L
          Files.walk(b).forEach { p =>
            val rel = b.relativize(p).toString
            if (Files.isRegularFile(p) && !rel.startsWith("_delta_log") &&
              rel.endsWith(".parquet")) n += 1
          }
          n
        }
        val before = parquetCount
        val reclaimed = ds.vacuum(0L)
        require(reclaimed > 0, "q411: vacuum must reclaim the rewritten files")
        require(parquetCount < before,
          "q411: fewer parquet files must remain on disk after vacuum")
        ds.scan().get.agg(
          count(lit(1)).cast("bigint").as("n_rows"),
          sum(col("o_orderkey")).cast("bigint").as("sum_key"))
      })
    ,

    // ---- timestamp time travel -----------------------------------
    // Three commits stamped with explicit wall-clock mtimes; scanAsOf
    // between the stamps must resolve each version boundary exactly
    // (newest commit at-or-before the cutoff), mirroring q387's
    // version-number travel by TIME.
    Q("q412_delta_ts_travel",
      Some("""WITH n0 AS (SELECT count(*)::BIGINT AS n,
             |  sum(n_nationkey)::BIGINT AS s FROM nation),
             |n1 AS (SELECT count(*)::BIGINT AS n,
             |  sum(n_nationkey + 100)::BIGINT AS s FROM nation
             |  WHERE n_regionkey = 2),
             |n2 AS (SELECT count(*)::BIGINT AS n,
             |  sum(n_nationkey)::BIGINT AS s FROM nation
             |  WHERE n_regionkey = 0)
             |SELECT 0::BIGINT AS cut, n0.n AS n_rows, n0.s AS sum_key
             |  FROM n0
             |UNION ALL SELECT 1::BIGINT, n0.n + n1.n, n0.s + n1.s FROM n0, n1
             |UNION ALL SELECT 2::BIGINT, n2.n, n2.s FROM n2
             |ORDER BY cut""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        import java.nio.file.Paths
        val table = tmp("graft_q412_")
        val nat = t(s, dir, "nation")
        val ds = new graft.sources.DeltaDataset(table, Seq("n_regionkey"))
        ds.write(nat)
        ds.append(nat.where(col("n_regionkey") === 2)
          .withColumn("n_nationkey", col("n_nationkey") + lit(100)))
        ds.write(nat.where(col("n_regionkey") === 0))
        val logDir = Paths.get(table, "_delta_log")
        (0L to 2L).foreach { v =>
          Files.setLastModifiedTime(logDir.resolve(f"$v%020d.json"),
            java.nio.file.attribute.FileTime.fromMillis(
              1700000000000L + v * 1000000L))
        }
        (0L to 2L).map { cut =>
          graft.sources.DeltaReader
            .scanAsOf(table, 1700000000000L + cut * 1000000L + 500000L)(s).get
            .agg(count(lit(1)).cast("bigint").as("n_rows"),
              sum(col("n_nationkey")).cast("bigint").as("sum_key"))
            .select(lit(cut).cast("bigint").as("cut"),
              col("n_rows"), col("sum_key"))
        }.reduce(_ unionByName _).orderBy("cut")
      })
    ,

    // ---- change-data feed reconstructed from the commit log ------
    // The tail-follow face: five commits (two appends, a DV delete,
    // an optimize, an overwrite) read back as a per-version
    // insert/delete change frame — appends surface as inserts, the
    // DV delete as row-level deletes, the OPTIMIZE rewrite is
    // silent (dataChange=false), and the overwrite retracts every
    // survivor before inserting its replacement.
    Q("q410_delta_cdf",
      // every branch is HAVING-style filtered to non-empty: an append
      // slice empty at a small SF commits an empty version, and the
      // change feed (like Spark's groupBy) emits NO group for it
      Some("""WITH o1 AS (SELECT o_orderkey, o_orderstatus FROM orders
             |  WHERE o_orderkey < 3000),
             |o2 AS (SELECT o_orderkey, o_orderstatus FROM orders
             |  WHERE o_orderkey >= 3000 AND o_orderkey < 6000),
             |o12 AS (SELECT * FROM o1 UNION ALL SELECT * FROM o2),
             |o3 AS (SELECT o_orderkey FROM orders WHERE o_orderkey < 500),
             |u AS (
             |SELECT 0::BIGINT AS version, 'insert' AS change_type,
             |  count(*)::BIGINT AS n_rows, sum(o_orderkey)::BIGINT AS sum_key
             |  FROM o1
             |UNION ALL SELECT 1::BIGINT, 'insert', count(*)::BIGINT,
             |  sum(o_orderkey)::BIGINT FROM o2
             |UNION ALL SELECT 2::BIGINT, 'delete', count(*)::BIGINT,
             |  sum(o_orderkey)::BIGINT FROM o12 WHERE o_orderstatus = 'F'
             |UNION ALL SELECT 4::BIGINT, 'delete', count(*)::BIGINT,
             |  sum(o_orderkey)::BIGINT FROM o12 WHERE o_orderstatus <> 'F'
             |UNION ALL SELECT 4::BIGINT, 'insert', count(*)::BIGINT,
             |  sum(o_orderkey)::BIGINT FROM o3)
             |SELECT * FROM u WHERE n_rows > 0
             |ORDER BY version, change_type""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val table = tmp("graft_q410_")
        val ord = t(s, dir, "orders")
        val ds = new graft.sources.DeltaDataset(table)
        ds.write(ord.where(col("o_orderkey") < 3000))                     // v0
        ds.append(ord.where(col("o_orderkey") >= 3000 &&
          col("o_orderkey") < 6000))                                      // v1
        ds.delete(col("o_orderstatus") === "F")                           // v2
        ds.optimize(0.0)                                                  // v3
        ds.write(ord.where(col("o_orderkey") < 500))                      // v4
        graft.sources.DeltaChanges.readChanges(table, -1L)(s).get
          .groupBy(col("_commit_version").cast("bigint").as("version"),
            col("_change_type").as("change_type"))
          .agg(count(lit(1)).cast("bigint").as("n_rows"),
            sum(col("o_orderkey")).cast("bigint").as("sum_key"))
          .orderBy("version", "change_type")
      })
    ,

    // ---- id-mode column mapping ----------------------------------
    // A column-mapped table in `id` mode: the data file's STORED
    // column names are scrambled nonsense, the logged physicalNames
    // are different nonsense — only the parquet FIELD IDS (embedded
    // at write, matched by Spark's native field-id resolution) tie
    // the columns back to the logical schema. The scan must read the
    // values under their logical names; the oracle recomputes on the
    // original table.
    Q("q408_delta_id_mapping",
      Some("""SELECT sum(n_nationkey)::BIGINT AS sum_key,
             |  count(DISTINCT n_regionkey)::BIGINT AS n_regions,
             |  sum(length(n_name))::BIGINT AS name_len FROM nation""".stripMargin),
      (s, dir) => {
        import java.nio.file.Paths
        import org.apache.spark.sql.types._
        val table = tmp("graft_q408_")
        val nat = t(s, dir, "nation")
        def fid(i: Long) = new MetadataBuilder()
          .putLong("parquet.field.id", i).build()
        val scrambled = nat.select(
          nat.columns.zipWithIndex.map { case (c, i) =>
            col(c).as(s"scrambled_${i}_x", fid(i + 1L)) }.toSeq: _*)
        val frag = Files.createTempDirectory("graft_q408_frag")
        scrambled.coalesce(1).write.mode("overwrite").parquet(frag.toString)
        val part = Files.list(frag)
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        Files.createDirectories(Paths.get(table))
        Files.copy(part, Paths.get(table, "f0.parquet"))
        org.apache.commons.io.FileUtils.deleteQuietly(frag.toFile)
        def cm(i: Long) = new MetadataBuilder()
          .putLong("delta.columnMapping.id", i)
          .putString("delta.columnMapping.physicalName", s"col-phys-$i")
          .build()
        val logical = StructType(nat.schema.fields.zipWithIndex.map {
          case (f, i) => StructField(f.name, f.dataType, f.nullable, cm(i + 1L))
        })
        val schemaJson = logical.json
          .replace("\\", "\\\\").replace("\"", "\\\"")
        val logDir = Paths.get(table, "_delta_log")
        Files.createDirectories(logDir)
        Files.write(logDir.resolve(f"${0L}%020d.json"), (Seq(
          """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
          s"""{"metaData":{"id":"q408","format":{"provider":"parquet",""" +
            s""""options":{}},"schemaString":"$schemaJson",""" +
            s""""partitionColumns":[],""" +
            s""""configuration":{"delta.columnMapping.mode":"id",""" +
            s""""delta.columnMapping.maxColumnId":"${nat.columns.length}"},""" +
            s""""createdTime":1700000000000}}""",
          s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":100,""" +
            s""""modificationTime":1700000000000,"dataChange":true}}""")
          .mkString("\n") + "\n").getBytes("UTF-8"))
        graft.sources.DeltaReader.scan(table)(s).get.agg(
          sum(col("n_nationkey")).cast("bigint").as("sum_key"),
          countDistinct(col("n_regionkey")).cast("bigint").as("n_regions"),
          sum(length(col("n_name"))).cast("bigint").as("name_len"))
      })
    ,

    // ---- RESTORE through the change feed --------------------------
    // A DV delete then a RESTORE: the shrinking deletion vector must
    // surface the un-deleted rows as INSERTS at the restoring version
    // (readChangeFeed semantics) — a mirror replaying the feed never
    // misses a restoration. Full-history window exercises the
    // incremental O(log) replay.
    Q("q415_delta_restore_cdf",
      Some("""WITH o AS (SELECT o_orderkey, o_orderstatus FROM orders
             |  WHERE o_orderkey < 2000),
             |f AS (SELECT * FROM o WHERE o_orderstatus = 'F'),
             |u AS (
             |SELECT 0::BIGINT AS version, 'insert' AS change_type,
             |  count(*)::BIGINT AS n_rows, sum(o_orderkey)::BIGINT AS sum_key
             |  FROM o
             |UNION ALL SELECT 1::BIGINT, 'delete', count(*)::BIGINT,
             |  sum(o_orderkey)::BIGINT FROM f
             |UNION ALL SELECT 2::BIGINT, 'insert', count(*)::BIGINT,
             |  sum(o_orderkey)::BIGINT FROM f)
             |SELECT * FROM u WHERE n_rows > 0
             |ORDER BY version, change_type""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val table = tmp("graft_q415_")
        val ord = t(s, dir, "orders")
        val ds = new graft.sources.DeltaDataset(table)
        ds.write(ord.where(col("o_orderkey") < 2000))       // v0
        ds.delete(col("o_orderstatus") === "F")             // v1: DV masks
        ds.restore(0L)                                      // v2: DV drops
        graft.sources.DeltaChanges.readChanges(table, -1L)(s).get
          .groupBy(col("_commit_version").cast("bigint").as("version"),
            col("_change_type").as("change_type"))
          .agg(count(lit(1)).cast("bigint").as("n_rows"),
            sum(col("o_orderkey")).cast("bigint").as("sum_key"))
          .orderBy("version", "change_type")
      })
    ,

    // ---- bin-packing compaction ------------------------------------
    // Six one-slice appends pile up small files; compact() packs each
    // partition back to ~one file with dataChange=false (the feed is
    // silent, every pre-compaction version still reads), and the head
    // scan is byte-identical to the original slice union.
    Q("q416_delta_compact",
      Some("""SELECT count(*)::BIGINT AS n, sum(o_orderkey)::BIGINT AS sum_key,
             |  count(DISTINCT o_orderstatus)::BIGINT AS n_status
             |FROM orders WHERE o_orderkey < 6000""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val table = tmp("graft_q416_")
        val ord = t(s, dir, "orders").where(col("o_orderkey") < 6000)
        val ds = new graft.sources.DeltaDataset(table)
        (0 until 6).foreach { i =>
          ds.append(ord.where(col("o_orderkey") % 6 === i))  // v0..v5
        }
        val before = graft.sources.DeltaReader.snapshot(table)(s).get
        require(before.files.size >= 6,
          s"q416: six appends must land >= 6 files, got ${before.files.size}")
        val v = ds.compact()
        require(v == 6L, s"q416: compact must commit version 6, got $v")
        val after = graft.sources.DeltaReader.snapshot(table)(s).get
        require(after.files.size < before.files.size,
          s"q416: compaction must shrink the file count " +
            s"(${before.files.size} -> ${after.files.size})")
        require(graft.sources.DeltaChanges.readChanges(table, 5L)(s)
          .get.isEmpty, "q416: dataChange=false — the feed must be silent")
        graft.sources.DeltaReader.scan(table)(s).get.agg(
          count(lit(1)).cast("bigint").as("n"),
          sum(col("o_orderkey")).cast("bigint").as("sum_key"),
          countDistinct(col("o_orderstatus")).cast("bigint").as("n_status"))
      })
    ,

    // ---- tail-follow stream face -----------------------------------
    // Two polls of the persisted-watermark follower over interleaved
    // appends and a DV delete: stream-of-polls == one batch mirror ==
    // the plain insert union (the append face never retracts). The
    // destination aggregate is the oracle-checked witness.
    Q("q417_delta_follow",
      Some("""SELECT count(*)::BIGINT AS n, sum(o_orderkey)::BIGINT AS sum_key
             |FROM orders WHERE o_orderkey < 4500""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val src = tmp("graft_q417_src_")
        val dst = tmp("graft_q417_dst_")
        val wm = s"${tmp("graft_q417_ck_")}/watermark"
        val ord = t(s, dir, "orders")
        val ds = new graft.sources.DeltaDataset(src)
        ds.write(ord.where(col("o_orderkey") < 1500))                  // v0
        ds.append(ord.where(col("o_orderkey") >= 1500 &&
          col("o_orderkey") < 3000))                                   // v1
        val w1 = graft.sources.DeltaFollow.followOnce(src, dst, wm)
        require(w1 == 1L, s"q417: first poll must reach v1, got $w1")
        ds.delete(col("o_orderstatus") === "F")                        // v2
        ds.append(ord.where(col("o_orderkey") >= 3000 &&
          col("o_orderkey") < 4500))                                   // v3
        val w2 = graft.sources.DeltaFollow.followOnce(src, dst, wm)
        require(w2 == 3L, s"q417: second poll must reach v3, got $w2")
        // duplicate poll no-ops (exactly-once from the persisted mark)
        require(graft.sources.DeltaFollow.followOnce(src, dst, wm) == 3L,
          "q417: idle poll must keep the watermark")
        graft.sources.DeltaReader.scan(dst)(s).get.agg(
          count(lit(1)).cast("bigint").as("n"),
          sum(col("o_orderkey")).cast("bigint").as("sum_key"))
      })
    ,

    // ---- stats-based data skipping ---------------------------------
    // Four key-clustered appends (each add carrying footer-derived
    // minValues/maxValues stats); a selective range scan must PRUNE to
    // the two overlapping files before any data I/O, and still equal
    // the full filter exactly — Delta data skipping from the public
    // stats contract.
    Q("q418_delta_stats_skip",
      Some("""SELECT count(*)::BIGINT AS n, sum(o_orderkey)::BIGINT AS sum_key,
             |  min(o_orderkey)::BIGINT AS min_key, max(o_orderkey)::BIGINT AS max_key
             |FROM orders WHERE o_orderkey BETWEEN 2500 AND 7000""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val table = tmp("graft_q418_")
        val ord = t(s, dir, "orders").where(col("o_orderkey") < 12000)
        val ds = new graft.sources.DeltaDataset(table)
        (0 until 4).foreach { i =>
          ds.append(ord.where(col("o_orderkey") >= i * 3000 &&
            col("o_orderkey") < (i + 1) * 3000).coalesce(1))  // v0..v3
        }
        val ranges = Seq(("o_orderkey", "2500", "7000"))
        val pruned = graft.sources.DeltaReader.prunedSnapshot(table, ranges)(s).get
        require(pruned.files.size <= 3,
          s"q418: [2500,7000] spans 3 of 4 key-clustered files, " +
            s"kept ${pruned.files.size}")
        require(graft.sources.DeltaReader.prunedSnapshot(table,
          Seq(("o_orderkey", "900000000", "900000001")))(s).get.files.isEmpty,
          "q418: an out-of-domain range must prune every file")
        graft.sources.DeltaReader.scanPruned(table, ranges)(s).get.agg(
          count(lit(1)).cast("bigint").as("n"),
          sum(col("o_orderkey")).cast("bigint").as("sum_key"),
          min(col("o_orderkey")).cast("bigint").as("min_key"),
          max(col("o_orderkey")).cast("bigint").as("max_key"))
      })
    ,

    // ---- DESCRIBE HISTORY ------------------------------------------
    // Every commit records its operation in commitInfo (the
    // convention every engine writes); history() lists retained
    // commits newest-first with operation names and action counts.
    Q("q419_delta_history",
      Some("""SELECT * FROM (VALUES
             |  (4::BIGINT, 'RESTORE'), (3::BIGINT, 'OPTIMIZE'),
             |  (2::BIGINT, 'DELETE'), (1::BIGINT, 'WRITE'),
             |  (0::BIGINT, 'WRITE')) AS t(version, operation)
             |ORDER BY version DESC""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val table = tmp("graft_q419_")
        val ord = t(s, dir, "orders")
        val ds = new graft.sources.DeltaDataset(table)
        ds.write(ord.where(col("o_orderkey") < 2000))       // v0
        ds.append(ord.where(col("o_orderkey") >= 2000 &&
          col("o_orderkey") < 4000))                        // v1
        ds.delete(col("o_orderstatus") === "F")             // v2
        ds.optimize(0.0)                                    // v3
        ds.restore(1L)                                      // v4
        ds.history().get
          .select(col("version"), col("operation"))
          .orderBy(col("version").desc)
      })
    ,

    // ---- explicit schema evolution ---------------------------------
    // mergeSchema append ADDS a column in one commit: old rows
    // null-fill it, the pre-evolution version keeps its shape, and
    // the aggregate over the evolved head matches the oracle's
    // two-slice union.
    Q("q420_delta_evolve",
      Some("""WITH a AS (SELECT o_orderkey FROM orders WHERE o_orderkey < 3000),
             |b AS (SELECT o_orderkey, o_totalprice FROM orders
             |  WHERE o_orderkey >= 3000 AND o_orderkey < 6000)
             |SELECT (SELECT count(*) FROM a)::BIGINT
             |    + (SELECT count(*) FROM b)::BIGINT AS n,
             |  (SELECT count(*) FROM b)::BIGINT AS n_priced,
             |  (SELECT sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE
             |     FROM b) AS sum_price""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val table = tmp("graft_q420_")
        val ord = t(s, dir, "orders")
        val ds = new graft.sources.DeltaDataset(table)
        ds.write(ord.where(col("o_orderkey") < 3000)
          .select("o_orderkey"))                                      // v0
        ds.append(ord.where(col("o_orderkey") >= 3000 &&
          col("o_orderkey") < 6000)
          .select("o_orderkey", "o_totalprice"), mergeSchema = true)  // v1
        require(graft.sources.DeltaReader.scan(table, Some(0L))(s).get
          .columns.toSeq == Seq("o_orderkey"),
          "q420: the pre-evolution version must keep its shape")
        graft.sources.DeltaReader.scan(table)(s).get.agg(
          count(lit(1)).cast("bigint").as("n"),
          count(col("o_totalprice")).cast("bigint").as("n_priced"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
      })
    ,

    // ---- MERGE INTO ------------------------------------------------
    // Keyed whole-row upsert + delete clause as ONE atomic commit on
    // a real _delta_log table: matched rows are masked behind
    // deletion vectors on their ORIGINAL files (no unmatched-row
    // rewrite), replacement + insert rows land as new files. The
    // oracle replays the merge relationally: target rows with no
    // source key pass through, non-deleted source rows land.
    Q("q421_delta_merge",
      Some("""WITH tgt AS (SELECT o_orderkey, o_custkey, o_orderstatus,
             |    o_totalprice FROM orders WHERE o_orderkey < 1000),
             |src AS (SELECT o_orderkey, o_custkey, o_orderstatus,
             |    o_totalprice * 2 AS o_totalprice
             |  FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 1400),
             |merged AS (
             |  SELECT * FROM tgt
             |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
             |  UNION ALL
             |  SELECT * FROM src WHERE o_orderstatus <> 'F')
             |SELECT count(*)::BIGINT AS n, sum(o_orderkey)::BIGINT AS sum_key,
             |  sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS sum_price
             |FROM merged""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val table = tmp("graft_q421_")
        val ord = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        val ds = new graft.sources.DeltaDataset(table)
        ds.write(ord.where(col("o_orderkey") < 1000))                 // v0
        val before = graft.sources.DeltaReader.snapshot(table)(s).get.files
          .map(_.path).toSet
        val src = ord.where(col("o_orderkey") >= 500 &&
          col("o_orderkey") < 1400)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
        val v = ds.merge(src, Seq("o_orderkey"),
          deleteWhen = Some(col("o_orderstatus") === "F"))
        require(v == 1L, s"q421: merge must be ONE atomic commit, got v$v")
        val after = graft.sources.DeltaReader.snapshot(table)(s).get.files
        require(before.subsetOf(after.map(_.path).toSet),
          "q421: merge must mask touched files, never rewrite them")
        require(ds.history().get.orderBy(col("version").desc).head()
          .getString(2) == "MERGE",
          "q421: the commit must record operation MERGE")
        graft.sources.DeltaReader.scan(table)(s).get.agg(
          count(lit(1)).cast("bigint").as("n"),
          sum(col("o_orderkey")).cast("bigint").as("sum_key"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
      })
    ,

    // ---- row-level UPDATE ------------------------------------------
    // SET o_orderstatus='X', o_totalprice=o_totalprice*2 WHERE
    // o_orderstatus='F', copy-on-write with DV reuse: matched rows
    // masked on their original files, updated images in new files,
    // one commit. The oracle applies the same CASE rewrite.
    Q("q422_delta_update",
      Some("""WITH t0 AS (SELECT o_orderkey, o_orderstatus, o_totalprice
             |  FROM orders WHERE o_orderkey < 800),
             |upd AS (SELECT o_orderkey,
             |    CASE WHEN o_orderstatus = 'F' THEN 'X'
             |         ELSE o_orderstatus END AS o_orderstatus,
             |    CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
             |         ELSE o_totalprice END AS o_totalprice
             |  FROM t0)
             |SELECT o_orderstatus, count(*)::BIGINT AS n,
             |  sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS sum_price
             |FROM upd GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val table = tmp("graft_q422_")
        val ord = t(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        val ds = new graft.sources.DeltaDataset(table)
        ds.write(ord.where(col("o_orderkey") < 800))                  // v0
        val v = ds.update(col("o_orderstatus") === "F", Map(
          "o_orderstatus" -> lit("X"),
          "o_totalprice" -> (col("o_totalprice") * 2)))
        require(v == 1L, s"q422: update must be ONE atomic commit, got v$v")
        require(ds.history().get.orderBy(col("version").desc).head()
          .getString(2) == "UPDATE",
          "q422: the commit must record operation UPDATE")
        // time travel: the pre-update state is one hop away
        require(graft.sources.DeltaReader.scan(table, Some(0L))(s).get
          .where(col("o_orderstatus") === "F").count() > 0,
          "q422: v0 must still carry the pre-update rows")
        graft.sources.DeltaReader.scan(table)(s).get
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).cast("bigint").as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("sum_price"))
          .orderBy(col("o_orderstatus"))
      })
    ,

    // ---- version-offset CDF streaming source -----------------------
    // A REAL readStream over format("graft-delta-cdf"): offsets are
    // commit versions, each micro-batch is a readChanges window. The
    // drained stream must equal the relational change feed the
    // oracle builds (inserts per append + deletes for the DV delete).
    Q("q423_delta_cdf_stream",
      Some("""WITH t0 AS (SELECT o_orderkey, o_orderstatus FROM orders
             |  WHERE o_orderkey < 400),
             |t1 AS (SELECT o_orderkey, o_orderstatus FROM orders
             |  WHERE o_orderkey >= 400 AND o_orderkey < 800),
             |chg AS (
             |  SELECT 'insert' AS change_type, o_orderkey FROM t0
             |  UNION ALL SELECT 'insert', o_orderkey FROM t1
             |  UNION ALL SELECT 'delete', o_orderkey FROM (
             |    SELECT * FROM t0 UNION ALL SELECT * FROM t1)
             |  WHERE o_orderstatus = 'F')
             |SELECT change_type, count(*)::BIGINT AS n,
             |  sum(o_orderkey)::BIGINT AS sum_key
             |FROM chg GROUP BY change_type ORDER BY change_type""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val table = tmp("graft_q423_")
        val sink = s"q423_sink_${java.util.UUID.randomUUID.toString.replace("-", "")}"
        val ord = t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
        val ds = new graft.sources.DeltaDataset(table)
        ds.write(ord.where(col("o_orderkey") < 400))                  // v0
        ds.append(ord.where(col("o_orderkey") >= 400 &&
          col("o_orderkey") < 800))                                   // v1
        ds.delete(col("o_orderstatus") === "F")                       // v2
        val q = s.readStream.format("graft-delta-cdf")
          .option("path", table).load()
          .writeStream.format("memory").queryName(sink)
          .option("checkpointLocation", tmp("graft_q423ck_"))
          .start()
        try q.processAllAvailable() finally q.stop()
        s.table(sink)
          .groupBy(col("_change_type").as("change_type"))
          .agg(count(lit(1)).cast("bigint").as("n"),
            sum(col("o_orderkey")).cast("bigint").as("sum_key"))
          .orderBy(col("change_type"))
      })
    ,

    // ---- UniForm-style Iceberg metadata export ---------------------
    // The Delta snapshot re-published as Iceberg table metadata
    // (field-id schema, identity partition spec, manifest chain,
    // version hint); the aggregate runs over the EXPORTED metadata
    // path (readExported — no _delta_log involved) and must equal
    // the relational oracle.
    Q("q424_iceberg_export",
      Some("""SELECT o_orderstatus, count(*)::BIGINT AS n,
             |  sum(o_orderkey)::BIGINT AS sum_key
             |FROM orders WHERE o_orderkey < 900
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val table = tmp("graft_q424_")
        val ord = t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
        val ds = new graft.sources.DeltaDataset(table, Seq("o_orderstatus"))
        ds.write(ord.where(col("o_orderkey") < 500))                  // v0
        ds.append(ord.where(col("o_orderkey") >= 500 &&
          col("o_orderkey") < 900))                                   // v1
        val v = graft.sources.IcebergExport.export(table)
        require(v == 1L, s"q424: export must stamp the head version, got $v")
        val exported = graft.sources.IcebergExport.readExported(table).get
        require(exported.schema.fieldNames.toSeq ==
          Seq("o_orderkey", "o_orderstatus"),
          "q424: exported schema must be the table schema in order")
        exported
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).cast("bigint").as("n"),
            sum(col("o_orderkey")).cast("bigint").as("sum_key"))
          .orderBy(col("o_orderstatus"))
      })
    ,

    // ---- OPTIMIZE ZORDER BY ----------------------------------------
    // Morton-curve rewrite over (l_partkey, l_suppkey): after it,
    // every file's min/max envelope is tight on BOTH columns, DV
    // masks from the prior delete are materialized away, and a point
    // range on EITHER column file-skips. The oracle replays the
    // delete relationally — zorder must be logically invisible.
    Q("q425_delta_zorder",
      Some("""SELECT count(*)::BIGINT AS n,
             |  sum(CAST(l_quantity AS DECIMAL(18,2)))::DOUBLE AS sum_qty,
             |  sum(l_partkey)::BIGINT AS sum_pk
             |FROM lineitem
             |WHERE l_orderkey < 4000 AND NOT l_quantity = 5""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val table = tmp("graft_q425_")
        val li = t(s, dir, "lineitem")
          .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
          .where(col("l_orderkey") < 4000)
        val ds = new graft.sources.DeltaDataset(table)
        ds.write(li.repartition(8))                                   // v0
        ds.delete(col("l_quantity") === 5)                            // v1 (DVs)
        val before = graft.sources.DeltaReader.snapshot(table)(s).get.files
        val v = ds.zorder(Seq("l_partkey", "l_suppkey"),
          targetFileBytes = 64L * 1024)
        require(v == 2L, s"q425: zorder must be ONE atomic commit, got v$v")
        val snap = graft.sources.DeltaReader.snapshot(table)(s).get
        require(snap.files.map(_.path).toSet
          .intersect(before.map(_.path).toSet).isEmpty,
          "q425: zorder must rewrite every live file")
        require(snap.files.forall(_.deletionVector.isEmpty),
          "q425: zorder must materialize deletion-vector masks away")
        require(ds.history().get.orderBy(col("version").desc).head()
          .getString(2) == "OPTIMIZE",
          "q425: the commit must record operation OPTIMIZE")
        // multi-column data skipping: a point range on EITHER curve
        // column must prune files once there are enough to split
        // (scale-robust: skipped entirely at tiny SF file counts)
        if (snap.files.size >= 4) {
          val probe = graft.sources.DeltaReader.scan(table)(s).get
            .agg(min(col("l_partkey")), min(col("l_suppkey"))).head()
          Seq("l_partkey" -> probe.getLong(0), "l_suppkey" -> probe.getLong(1))
            .foreach { case (c, pt) =>
              val kept = graft.sources.DeltaReader.prunedSnapshot(table,
                Seq((c, pt.toString, pt.toString)))(s).get.files.size
              require(kept < snap.files.size,
                s"q425: point range on $c kept $kept of ${snap.files.size} " +
                  "files — the curve layout is not skipping")
            }
        }
        graft.sources.DeltaReader.scan(table)(s).get.agg(
          count(lit(1)).cast("bigint").as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"),
          sum(col("l_partkey")).cast("bigint").as("sum_pk"))
      })
    ,

    // ---- SHALLOW CLONE ---------------------------------------------
    // Zero-copy fork: the clone's v0 references the source's data
    // files by absolute path (DV masks re-addressed 'u' -> 'p' so the
    // delete survives the root change), then evolves independently —
    // an append to the clone must not touch the source. The oracle
    // replays source-after-delete plus the clone-only slice.
    Q("q426_delta_clone",
      Some("""WITH src AS (SELECT c_custkey, c_mktsegment, c_acctbal
             |  FROM customer WHERE c_custkey < 900
             |    AND NOT c_mktsegment = 'BUILDING'),
             |extra AS (SELECT c_custkey, c_mktsegment, c_acctbal
             |  FROM customer WHERE c_custkey >= 900 AND c_custkey < 1200),
             |unioned AS (SELECT * FROM src UNION ALL SELECT * FROM extra)
             |SELECT count(*)::BIGINT AS n, sum(c_custkey)::BIGINT AS sum_key,
             |  sum(CAST(c_acctbal AS DECIMAL(18,2)))::DOUBLE AS sum_bal
             |FROM unioned""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val srcTable = tmp("graft_q426s_")
        val dstTable = tmp("graft_q426d_")
        val cust = t(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal")
        val src = new graft.sources.DeltaDataset(srcTable)
        src.write(cust.where(col("c_custkey") < 900))                 // v0
        src.delete(col("c_mktsegment") === "BUILDING")                // v1 (DVs)
        val v0 = src.cloneShallowTo(dstTable)
        require(v0 == 0L, s"q426: a clone must start its OWN history, got v$v0")
        val dst = new graft.sources.DeltaDataset(dstTable)
        val srcBytes = graft.sources.DeltaReader.snapshot(srcTable)(s).get
          .files.map(_.size).sum
        require(graft.sources.DeltaReader.snapshot(dstTable)(s).get
          .files.forall(f => f.path.contains(srcTable)),
          "q426: clone adds must point at the SOURCE root, not copies")
        val srcN = graft.sources.DeltaReader.scan(srcTable)(s).get.count()
        require(graft.sources.DeltaReader.scan(dstTable)(s).get.count() == srcN,
          "q426: the clone must read exactly the source snapshot " +
            "(deletion vectors included)")
        dst.append(cust.where(col("c_custkey") >= 900 &&
          col("c_custkey") < 1200))                                   // clone v1
        require(graft.sources.DeltaReader.scan(srcTable)(s).get.count() == srcN,
          "q426: appending to the clone must not touch the source")
        require(graft.sources.DeltaReader.snapshot(srcTable)(s).get
          .files.map(_.size).sum == srcBytes,
          "q426: the clone must not have copied or moved source bytes")
        graft.sources.DeltaReader.scan(dstTable)(s).get.agg(
          count(lit(1)).cast("bigint").as("n"),
          sum(col("c_custkey")).cast("bigint").as("sum_key"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
            .as("sum_bal"))
      })
    ,

    // ---- GENERATED columns ------------------------------------------
    // A table partitioned by GENERATED o_year = year(o_orderdate):
    // the creating write declares the derivation, a RAW append (no
    // o_year) computes it, and — the scale payoff — a range on the
    // raw o_orderdate alone partition-prunes through the monotone
    // generation expression. The oracle replays the same range
    // relationally; pruning must be invisible to the result.
    Q("q427_delta_generated",
      Some("""SELECT count(*)::BIGINT AS n, sum(o_orderkey)::BIGINT AS sum_key,
             |  sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE AS sum_price
             |FROM orders WHERE o_orderkey < 4000
             |  AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
             |    AND TIMESTAMP '1996-12-31 23:59:59'""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val table = tmp("graft_q427_")
        val ord = t(s, dir, "orders")
          .select("o_orderkey", "o_orderdate", "o_totalprice")
        val ds = new graft.sources.DeltaDataset(table, Seq("o_year"))
        ds.write(graft.sources.DeltaWriter.asGenerated(
          ord.where(col("o_orderkey") < 2000)
            .withColumn("o_year", expr("year(o_orderdate)")),
          "o_year", "year(o_orderdate)"))                             // v0
        ds.append(ord.where(col("o_orderkey") >= 2000 &&
          col("o_orderkey") < 4000))                                  // v1: raw
        val snap = graft.sources.DeltaReader.snapshot(table)(s).get
        require(snap.protocol.minWriterVersion >= 4,
          "q427: a generated-column table must demand writer version 4")
        require(graft.sources.DeltaReader.scan(table)(s).get
          .where(col("o_year") =!= expr("year(o_orderdate)")).isEmpty,
          "q427: every computed partition value must satisfy the derivation")
        val ranges = Seq(("o_orderdate",
          "1995-01-01 00:00:00", "1996-12-31 23:59:59"))
        val allParts = snap.files.flatMap(_.partitionValues.get("o_year")).toSet
        val kept = graft.sources.DeltaReader.prunedSnapshot(table, ranges)(s)
          .get.files.flatMap(_.partitionValues.get("o_year")).toSet
        require(kept.subsetOf(Set("1995", "1996")),
          s"q427: the raw-date range must derive o_year pruning, kept $kept")
        require(allParts.size <= 2 || kept.size < allParts.size,
          "q427: derivation pruned nothing")
        graft.sources.DeltaReader.scanPruned(table, ranges)(s).get.agg(
          count(lit(1)).cast("bigint").as("n"),
          sum(col("o_orderkey")).cast("bigint").as("sum_key"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
      })
    ,

    // ---- IDENTITY columns + enforced invariants ---------------------
    // GENERATED BY DEFAULT AS IDENTITY: the creating slice provides
    // explicit ids (the supplier keys), raw appends get collision-free
    // lattice allocations above the persisted high watermark, and a
    // column invariant (s_acctbal bound) is ENFORCED — the violating
    // append refuses, conforming rows commit. Allocated values are
    // nondeterministic by design, so the oracle checks the
    // deterministic shape: row count, id distinctness, balance sum.
    Q("q428_delta_identity",
      Some("""SELECT count(*)::BIGINT AS n, count(*)::BIGINT AS n_ids,
             |  sum(CAST(s_acctbal AS DECIMAL(18,2)))::DOUBLE AS sum_bal
             |FROM supplier""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val table = tmp("graft_q428_")
        val sup = t(s, dir, "supplier")
          .select("s_suppkey", "s_name", "s_acctbal")
        val provided = sup.where(col("s_suppkey") <= 5)
          .withColumnRenamed("s_suppkey", "s_id")
        val declared = graft.sources.DeltaWriter.asIdentity(
          provided.withMetadata("s_acctbal",
            new org.apache.spark.sql.types.MetadataBuilder()
              .putString("delta.invariants",
                """{"expression":{"expression":"s_acctbal > -100000"}}""")
              .build()),
          "s_id", start = 1L, step = 1L, allowExplicitInsert = true)
        val ds = new graft.sources.DeltaDataset(table)
        ds.write(declared)                                            // v0
        val provMax = provided.agg(max(col("s_id"))).head().getLong(0)
        require(graft.sources.DeltaReader.snapshot(table)(s).get
          .schema("s_id").metadata
          .getLong("delta.identity.highWaterMark") == provMax,
          "q428: the creating write must stamp the provided maximum")
        // violating the enforced invariant refuses loudly
        val bad = try {
          ds.append(sup.where(col("s_suppkey") > 5).limit(1)
            .select(col("s_name"),
              lit(-9999999.0).as("s_acctbal")))
          false
        } catch { case e: IllegalArgumentException =>
          e.getMessage.contains("invariant") }
        require(bad, "q428: the invariant-violating append must refuse")
        // raw append: ids allocated above the watermark
        ds.append(sup.where(col("s_suppkey") > 5)
          .select("s_name", "s_acctbal"))                             // v1
        val out = graft.sources.DeltaReader.scan(table)(s).get
        require(out.where(col("s_id") <= provMax)
          .count() == provided.count(),
          "q428: allocation must stay above the provided watermark")
        out.agg(
          count(lit(1)).cast("bigint").as("n"),
          countDistinct(col("s_id")).cast("bigint").as("n_ids"),
          sum(col("s_acctbal").cast("decimal(18,2)")).cast("double")
            .as("sum_bal"))
      })
    ,

    // ---- column-mapped table WRITES ---------------------------------
    // A foreign name-mode column-mapped table (physical names differ
    // from logical; the default for new delta-spark tables): append,
    // DV delete and scan all round-trip — landed parquet stores
    // PHYSICAL names, the log keys partitionValues physically, reads
    // stay logical. The oracle replays the slice arithmetic on nation.
    Q("q429_delta_mapped",
      Some("""SELECT count(*)::BIGINT AS n, sum(n_nationkey)::BIGINT AS sum_key
             |FROM nation WHERE n_nationkey < 25
             |  AND NOT n_nationkey % 5 = 0""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val table = tmp("graft_q429_")
        val nat = t(s, dir, "nation").select("n_nationkey", "n_name")
        // seed a FOREIGN mapped table: physical column names on disk
        nat.where(col("n_nationkey") < 15)
          .select(col("n_nationkey").as("pk-001"), col("n_name").as("pn-002"))
          .coalesce(1).write.parquet(s"$table/seed")
        val part = new java.io.File(s"$table/seed").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dest = new java.io.File(s"$table/seed-000.parquet")
        require(part.renameTo(dest), "q429: fixture move failed")
        def fm(id: Long, phys: String) =
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("delta.columnMapping.id", id)
            .putString("delta.columnMapping.physicalName", phys).build()
        val mapped = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_nationkey",
            org.apache.spark.sql.types.IntegerType, nullable = true,
            fm(1, "pk-001")),
          org.apache.spark.sql.types.StructField("n_name",
            org.apache.spark.sql.types.StringType, nullable = true,
            fm(2, "pn-002"))))
        def esc(x: String) =
          x.replace("\\", "\\\\").replace("\"", "\\\"")
        val lines = Seq(
          """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
          s"""{"metaData":{"id":"q429","format":{"provider":"parquet","options":{}},""" +
            s""""schemaString":"${esc(mapped.json)}","partitionColumns":[],""" +
            s""""configuration":{"delta.columnMapping.mode":"name",""" +
            s""""delta.columnMapping.maxColumnId":"2"},"createdTime":1700000000000}}""",
          s"""{"add":{"path":"seed-000.parquet","partitionValues":{},""" +
            s""""size":${dest.length},"modificationTime":1700000000000,""" +
            """"dataChange":true}}""")
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(s"$table/_delta_log"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$table/_delta_log/" + "%020d.json".format(0)),
          (lines.mkString("\n") + "\n").getBytes("UTF-8"))
        val ds = new graft.sources.DeltaDataset(table)
        ds.append(nat.where(col("n_nationkey") >= 15 &&
          col("n_nationkey") < 25))                                   // v1
        val mine = graft.sources.DeltaReader.snapshot(table)(s).get.files
          .filterNot(_.path.endsWith("seed-000.parquet"))
        require(mine.nonEmpty && mine.forall(f =>
          s.read.parquet(f.path).columns.toSeq == Seq("pk-001", "pn-002")),
          "q429: appended files must store the PHYSICAL column names")
        ds.delete(col("n_nationkey") % 5 === 0)                       // v2
        graft.sources.DeltaReader.scan(table)(s).get.agg(
          count(lit(1)).cast("bigint").as("n"),
          sum(col("n_nationkey")).cast("bigint").as("sum_key"))
      })
    ,

    // ---- change-data-feed WRITER conformance ------------------------
    // With delta.enableChangeDataFeed=true, DELETE and UPDATE commits
    // land their row-level change set as _change_data/ parquet + cdc
    // actions (DV-masking commits cannot be re-derived by foreign CDF
    // readers), and readChanges treats those versions as
    // AUTHORITATIVE, emitting the recorded precise types. The oracle
    // replays the change arithmetic relationally.
    Q("q430_delta_cdc",
      Some("""WITH t0 AS (SELECT o_orderkey, o_orderstatus, o_totalprice
             |  FROM orders WHERE o_orderkey < 1000),
             |del AS (SELECT 'delete' AS change_type, count(*)::BIGINT AS n,
             |    sum(o_orderkey)::BIGINT AS sum_key
             |  FROM t0 WHERE o_orderstatus = 'F'),
             |upd AS (SELECT o_orderkey FROM t0
             |  WHERE NOT o_orderstatus = 'F' AND o_orderkey % 10 = 3),
             |pre AS (SELECT 'update_preimage' AS change_type,
             |    count(*)::BIGINT AS n, sum(o_orderkey)::BIGINT AS sum_key
             |  FROM upd),
             |post AS (SELECT 'update_postimage' AS change_type,
             |    count(*)::BIGINT AS n, sum(o_orderkey)::BIGINT AS sum_key
             |  FROM upd)
             |SELECT * FROM del UNION ALL SELECT * FROM pre
             |UNION ALL SELECT * FROM post
             |ORDER BY change_type""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val table = tmp("graft_q430_")
        val ord = t(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        val ds = new graft.sources.DeltaDataset(table)
        ds.write(ord.where(col("o_orderkey") < 1000))                 // v0
        val snap0 = graft.sources.DeltaReader.snapshot(table)(s).get
        def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
        java.nio.file.Files.write(                                     // v1: CDF on
          java.nio.file.Paths.get(s"$table/_delta_log/" + "%020d.json".format(1)),
          (s"""{"metaData":{"id":"${snap0.tableId}","format":""" +
            s"""{"provider":"parquet","options":{}},""" +
            s""""schemaString":"${esc(snap0.schema.json)}",""" +
            s""""partitionColumns":[],""" +
            s""""configuration":{"delta.enableChangeDataFeed":"true"},""" +
            s""""createdTime":1700000000000}}""" + "\n").getBytes("UTF-8"))
        ds.delete(col("o_orderstatus") === "F")                       // v2: cdc
        ds.update(col("o_orderkey") % 10 === 3,
          Map("o_totalprice" -> (col("o_totalprice") * 2)))           // v3: cdc
        val head = graft.sources.DeltaReader.snapshot(table)(s).get.version
        require(head == 3L, s"q430: expected 3 commits, got $head")
        Seq(2L, 3L).foreach { v =>
          val commit = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(s"$table/_delta_log/" +
              "%020d.json".format(v))), "UTF-8")
          require(commit.contains("\"cdc\""),
            s"q430: commit $v must log its cdc actions")
        }
        graft.sources.DeltaChanges.readChanges(table, 1L)(s).get
          .groupBy(col("_change_type"))
          .agg(count(lit(1)).cast("bigint").as("n"),
            sum(col("o_orderkey")).cast("bigint").as("sum_key"))
          .withColumnRenamed("_change_type", "change_type")
          .orderBy(col("change_type"))
      })
    ,

    // ---- CONVERT TO DELTA -------------------------------------------
    // The migration verb: an existing Hive-layout dataset gains a
    // _delta_log referencing its files IN PLACE (zero bytes
    // rewritten, footer stats on every add), after which the full
    // Delta verb set works — here a DV delete and an append land on
    // the converted table. The oracle replays the slice arithmetic.
    Q("q431_delta_convert",
      Some("""WITH base AS (SELECT c_custkey, c_mktsegment, c_acctbal
             |  FROM customer WHERE c_custkey < 700),
             |kept AS (SELECT * FROM base WHERE NOT c_mktsegment = 'MACHINERY'),
             |extra AS (SELECT c_custkey, c_mktsegment, c_acctbal
             |  FROM customer WHERE c_custkey >= 700 AND c_custkey < 900),
             |unioned AS (SELECT * FROM kept UNION ALL SELECT * FROM extra)
             |SELECT count(*)::BIGINT AS n, sum(c_custkey)::BIGINT AS sum_key,
             |  sum(CAST(c_acctbal AS DECIMAL(18,2)))::DOUBLE AS sum_bal
             |FROM unioned""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val root = tmp("graft_q431_")
        val cust = t(s, dir, "customer")
          .select("c_custkey", "c_acctbal", "c_mktsegment")
        new graft.sources.HiveDataset(root, Seq("c_mktsegment"))
          .write(cust.where(col("c_custkey") < 700))
        val bytesBefore = {
          def du(f: java.io.File): Long =
            if (f.isDirectory) f.listFiles().map(du).sum else f.length
          du(new java.io.File(root))
        }
        val v = graft.sources.DeltaWriter.convertToDelta(
          root, Seq("c_mktsegment"))
        require(v == 0L, s"q431: conversion must be version 0, got $v")
        val snap = graft.sources.DeltaReader.snapshot(root)(s).get
        require(snap.files.forall(_.stats.isDefined),
          "q431: converted adds must carry footer stats")
        val dataBytesAfter = {
          def du(f: java.io.File): Long =
            if (f.isDirectory && f.getName == "_delta_log") 0L
            else if (f.isDirectory) f.listFiles().map(du).sum else f.length
          du(new java.io.File(root))
        }
        require(dataBytesAfter == bytesBefore,
          "q431: conversion must not move or rewrite a single data byte")
        val ds = new graft.sources.DeltaDataset(root, Seq("c_mktsegment"))
        ds.delete(col("c_mktsegment") === "MACHINERY")                // v1
        // the Hive layout stores columns alphabetically — the append
        // matches the CONVERTED table's order
        ds.append(cust.where(col("c_custkey") >= 700 &&
          col("c_custkey") < 900)
          .select("c_acctbal", "c_custkey", "c_mktsegment"))          // v2
        require(graft.sources.DeltaReader.scan(root, Some(0L))(s).get
          .count() == cust.where(col("c_custkey") < 700).count(),
          "q431: version 0 must still read the pre-conversion rows")
        graft.sources.DeltaReader.scan(root)(s).get.agg(
          count(lit(1)).cast("bigint").as("n"),
          sum(col("c_custkey")).cast("bigint").as("sum_key"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
            .as("sum_bal"))
      })
    ,

    // ---- schema evolution on a column-mapped table -------------------
    // delta-spark's default for NEW tables is name-mode column
    // mapping, so "add a column to a mapped table" is the first
    // evolution a real user hits. The writer allocates a fresh
    // physical name (col-<uuid>) + column-mapping id above
    // delta.columnMapping.maxColumnId, lands parquet under the
    // physical name, and advances maxColumnId in the same commit;
    // pre-evolution rows null-fill the new column at read. The oracle
    // replays the union arithmetic on nation.
    Q("q432_delta_mapped_evolve",
      Some("""WITH rows_all AS (
             |  SELECT n_nationkey, NULL::BIGINT AS n_flag
             |  FROM nation WHERE n_nationkey < 15
             |  UNION ALL
             |  SELECT n_nationkey, (n_nationkey % 2)::BIGINT
             |  FROM nation WHERE n_nationkey >= 15 AND n_nationkey < 25)
             |SELECT count(*)::BIGINT AS n, sum(n_nationkey)::BIGINT AS sum_key,
             |  sum(n_flag)::BIGINT AS sum_flag,
             |  count(n_flag)::BIGINT AS n_flagged
             |FROM rows_all""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val table = tmp("graft_q432_")
        val nat = t(s, dir, "nation").select("n_nationkey", "n_name")
        // seed a FOREIGN name-mode mapped table (the q429 fixture)
        nat.where(col("n_nationkey") < 15)
          .select(col("n_nationkey").as("pk-001"), col("n_name").as("pn-002"))
          .coalesce(1).write.parquet(s"$table/seed")
        val part = new java.io.File(s"$table/seed").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dest = new java.io.File(s"$table/seed-000.parquet")
        require(part.renameTo(dest), "q432: fixture move failed")
        def fm(id: Long, phys: String) =
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("delta.columnMapping.id", id)
            .putString("delta.columnMapping.physicalName", phys).build()
        val mapped = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_nationkey",
            org.apache.spark.sql.types.IntegerType, nullable = true,
            fm(1, "pk-001")),
          org.apache.spark.sql.types.StructField("n_name",
            org.apache.spark.sql.types.StringType, nullable = true,
            fm(2, "pn-002"))))
        def esc(x: String) =
          x.replace("\\", "\\\\").replace("\"", "\\\"")
        val lines = Seq(
          """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
          s"""{"metaData":{"id":"q432","format":{"provider":"parquet","options":{}},""" +
            s""""schemaString":"${esc(mapped.json)}","partitionColumns":[],""" +
            s""""configuration":{"delta.columnMapping.mode":"name",""" +
            s""""delta.columnMapping.maxColumnId":"2"},"createdTime":1700000000000}}""",
          s"""{"add":{"path":"seed-000.parquet","partitionValues":{},""" +
            s""""size":${dest.length},"modificationTime":1700000000000,""" +
            """"dataChange":true}}""")
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(s"$table/_delta_log"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$table/_delta_log/" + "%020d.json".format(0)),
          (lines.mkString("\n") + "\n").getBytes("UTF-8"))
        val ds = new graft.sources.DeltaDataset(table)
        // evolve: a NEW column arrives with mergeSchema on the mapped table
        ds.append(nat.where(col("n_nationkey") >= 15 &&
            col("n_nationkey") < 25)
          .withColumn("n_flag", (col("n_nationkey") % 2).cast("bigint")),
          mergeSchema = true)                                         // v1
        val snap = graft.sources.DeltaReader.snapshot(table)(s).get
        val ev = snap.schema("n_flag")
        require(ev.metadata.getString("delta.columnMapping.physicalName")
            .startsWith("col-") &&
          ev.metadata.getLong("delta.columnMapping.id") == 3L &&
          snap.configuration("delta.columnMapping.maxColumnId") == "3",
          "q432: evolution must allocate physical name + id and advance maxColumnId")
        val physFlag =
          ev.metadata.getString("delta.columnMapping.physicalName")
        val mine = snap.files.filterNot(_.path.endsWith("seed-000.parquet"))
        require(mine.nonEmpty && mine.forall(f =>
          s.read.parquet(f.path).columns.contains(physFlag)),
          "q432: landed files must store the allocated PHYSICAL name")
        graft.sources.DeltaReader.scan(table)(s).get.agg(
          count(lit(1)).cast("bigint").as("n"),
          sum(col("n_nationkey")).cast("bigint").as("sum_key"),
          sum(col("n_flag")).cast("bigint").as("sum_flag"),
          count(col("n_flag")).cast("bigint").as("n_flagged"))
      })
    ,

    // ---- row tracking ------------------------------------------------
    // The rowTracking writer feature: every add carries baseRowId /
    // defaultRowCommitVersion, the delta.rowTracking domain records
    // the id high watermark, and row ids are STABLE identity — DV
    // deletes keep survivors' ids, and compaction carries them
    // through the materialized row-id column. Determinism: both the
    // seed file and the appended file are written sorted in ONE
    // fragment, so row id = position in key order and the ORACLE can
    // replay the id arithmetic relationally (row_number over the same
    // order). sum_row_id after delete+compact proves id stability —
    // any reassignment during the rewrite would shift the sum.
    Q("q433_delta_row_tracking",
      Some("""WITH seed AS (SELECT o_orderkey, o_orderstatus FROM orders
             |  WHERE o_orderkey < 500),
             |app AS (SELECT o_orderkey, o_orderstatus FROM orders
             |  WHERE o_orderkey >= 500 AND o_orderkey < 800),
             |ids AS (
             |  SELECT o_orderkey, o_orderstatus,
             |    (row_number() OVER (ORDER BY o_orderkey)) - 1 AS rid
             |  FROM seed
             |  UNION ALL
             |  SELECT o_orderkey, o_orderstatus,
             |    (SELECT count(*) FROM seed)
             |      + (row_number() OVER (ORDER BY o_orderkey)) - 1
             |  FROM app),
             |kept AS (SELECT * FROM ids WHERE NOT o_orderstatus = 'F')
             |SELECT count(*)::BIGINT AS n, sum(o_orderkey)::BIGINT AS sum_key,
             |  sum(rid)::BIGINT AS sum_row_id
             |FROM kept""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val table = tmp("graft_q433_")
        val ord = t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
        val seed = ord.where(col("o_orderkey") < 500)
          .orderBy("o_orderkey").coalesce(1)
        // land the seed as the foreign fixture's single file
        seed.write.parquet(s"$table/stage")
        val part = new java.io.File(s"$table/stage").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dest = new java.io.File(s"$table/seed-000.parquet")
        require(part.renameTo(dest), "q433: fixture move failed")
        val nSeed = seed.count()
        def esc(x: String) =
          x.replace("\\", "\\\\").replace("\"", "\\\"")
        val lines = Seq(
          """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
            """"writerFeatures":["rowTracking","domainMetadata"]}}""",
          s"""{"metaData":{"id":"q433","format":{"provider":"parquet","options":{}},""" +
            s""""schemaString":"${esc(seed.schema.json)}","partitionColumns":[],""" +
            s""""configuration":{"delta.enableRowTracking":"true"},""" +
            s""""createdTime":1700000000000}}""",
          s"""{"add":{"path":"seed-000.parquet","partitionValues":{},""" +
            s""""size":${dest.length},"modificationTime":1700000000000,""" +
            s""""dataChange":true,"baseRowId":0,"defaultRowCommitVersion":0}}""",
          s"""{"domainMetadata":{"domain":"delta.rowTracking",""" +
            s""""configuration":"{\\"rowIdHighWaterMark\\":${nSeed - 1}}",""" +
            """"removed":false}}""")
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(s"$table/_delta_log"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$table/_delta_log/" + "%020d.json".format(0)),
          (lines.mkString("\n") + "\n").getBytes("UTF-8"))
        val ds = new graft.sources.DeltaDataset(table)
        ds.append(ord.where(col("o_orderkey") >= 500 &&
          col("o_orderkey") < 800).orderBy("o_orderkey").coalesce(1))  // v1
        val snap1 = graft.sources.DeltaReader.snapshot(table)(s).get
        require(snap1.files.forall(_.baseRowId.isDefined),
          "q433: every add must carry baseRowId")
        ds.delete(col("o_orderstatus") === "F")                       // v2
        val beforeCompact = graft.sources.DeltaReader
          .scanWithRowIds(table)(s).get
          .agg(sum(col("_row_id")).cast("bigint")).head().getLong(0)
        ds.compact(targetFileBytes = 256L * 1024 * 1024)              // v3
        val snap3 = graft.sources.DeltaReader.snapshot(table)(s).get
        require(snap3.configuration
          .contains("delta.rowTracking.materializedRowIdColumnName"),
          "q433: the compact commit must record the materialized column")
        val out = graft.sources.DeltaReader.scanWithRowIds(table)(s).get
        require(out.agg(sum(col("_row_id")).cast("bigint")).head()
          .getLong(0) == beforeCompact,
          "q433: row ids must be stable across compaction")
        out.agg(
          count(lit(1)).cast("bigint").as("n"),
          sum(col("o_orderkey")).cast("bigint").as("sum_key"),
          sum(col("_row_id")).cast("bigint").as("sum_row_id"))
      })
    ,

    // ---- NESTED columns under mapping -------------------------------
    // A foreign name-mode table whose struct field carries its own
    // inner physical names: appends land parquet with PHYSICAL names
    // at both levels (the positional struct-cast rewrite — the exact
    // inverse of the reader's physical→logical cast), DV deletes
    // predicate on inner fields, and logical reads round-trip. The
    // round-12 residual: delta-rs handles these; this writer refused.
    Q("q434_delta_nested_mapped",
      Some("""WITH rows_all AS (
             |  SELECT n_nationkey, n_regionkey FROM nation
             |  WHERE n_nationkey < 25),
             |kept AS (SELECT * FROM rows_all WHERE NOT n_regionkey = 3)
             |SELECT count(*)::BIGINT AS n, sum(n_nationkey)::BIGINT AS sum_key,
             |  sum(n_regionkey)::BIGINT AS sum_region
             |FROM kept""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val table = tmp("graft_q434_")
        val nat = t(s, dir, "nation").select("n_nationkey", "n_regionkey")
        // seed file with PHYSICAL names at both levels
        nat.where(col("n_nationkey") < 12)
          .select(col("n_nationkey").as("pk-001"),
            struct(col("n_regionkey").as("pr-003")).as("ps-002"))
          .coalesce(1).write.parquet(s"$table/stage")
        val part = new java.io.File(s"$table/stage").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dest = new java.io.File(s"$table/seed-000.parquet")
        require(part.renameTo(dest), "q434: fixture move failed")
        def fm(id: Long, phys: String) =
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("delta.columnMapping.id", id)
            .putString("delta.columnMapping.physicalName", phys).build()
        val inner = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("r",
            org.apache.spark.sql.types.IntegerType, nullable = true,
            fm(3, "pr-003"))))
        val mapped = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_nationkey",
            org.apache.spark.sql.types.IntegerType, nullable = true,
            fm(1, "pk-001")),
          org.apache.spark.sql.types.StructField("s", inner,
            nullable = true, fm(2, "ps-002"))))
        def esc(x: String) =
          x.replace("\\", "\\\\").replace("\"", "\\\"")
        val lines = Seq(
          """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
          s"""{"metaData":{"id":"q434","format":{"provider":"parquet","options":{}},""" +
            s""""schemaString":"${esc(mapped.json)}","partitionColumns":[],""" +
            s""""configuration":{"delta.columnMapping.mode":"name",""" +
            s""""delta.columnMapping.maxColumnId":"3"},"createdTime":1700000000000}}""",
          s"""{"add":{"path":"seed-000.parquet","partitionValues":{},""" +
            s""""size":${dest.length},"modificationTime":1700000000000,""" +
            """"dataChange":true}}""")
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(s"$table/_delta_log"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$table/_delta_log/" + "%020d.json".format(0)),
          (lines.mkString("\n") + "\n").getBytes("UTF-8"))
        val ds = new graft.sources.DeltaDataset(table)
        // append in LOGICAL shape: the writer rewrites both levels
        ds.append(nat.where(col("n_nationkey") >= 12 &&
            col("n_nationkey") < 25)
          .select(col("n_nationkey"),
            struct(col("n_regionkey").as("r")).as("s")))              // v1
        val mine = graft.sources.DeltaReader.snapshot(table)(s).get.files
          .filterNot(_.path.endsWith("seed-000.parquet"))
        require(mine.nonEmpty && mine.forall { f =>
          val sch = s.read.parquet(f.path).schema
          sch.fieldNames.toSeq == Seq("pk-001", "ps-002") &&
            sch("ps-002").dataType
              .asInstanceOf[org.apache.spark.sql.types.StructType]
              .fieldNames.toSeq == Seq("pr-003")
        }, "q434: landed files must store physical names at BOTH levels")
        // DV delete predicated on the INNER logical field
        ds.delete(col("s.r") === 3)                                   // v2
        graft.sources.DeltaReader.scan(table)(s).get.agg(
          count(lit(1)).cast("bigint").as("n"),
          sum(col("n_nationkey")).cast("bigint").as("sum_key"),
          sum(col("s.r")).cast("bigint").as("sum_region"))
      }),

    // ---- S15 edge: NESTED column arriving by EVOLUTION on a
    // column-mapped table — mergeSchema allocates physical names AND
    // ids recursively (top-level col-<uuid> + every inner struct
    // field), advances maxColumnId past the nested ids, lands parquet
    // under physical names at both levels, and pre-evolution rows
    // null-fill the whole struct. The round-13 residual #2 closed.
    Q("q435_delta_mapped_nested_evolution",
      Some("""WITH old AS (
             |  SELECT n_nationkey, NULL::INTEGER AS r FROM nation
             |  WHERE n_nationkey < 12),
             |nw AS (
             |  SELECT n_nationkey, n_regionkey AS r FROM nation
             |  WHERE n_nationkey >= 12 AND n_nationkey < 25),
             |allr AS (SELECT * FROM old UNION ALL SELECT * FROM nw)
             |SELECT count(*)::BIGINT AS n,
             |  sum(n_nationkey)::BIGINT AS sum_key,
             |  sum(r)::BIGINT AS sum_r, count(r)::BIGINT AS n_r
             |FROM allr""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val table = tmp("graft_q435_")
        val nat = t(s, dir, "nation").select("n_nationkey", "n_regionkey")
        // foreign name-mode seed: ONE flat mapped column
        nat.where(col("n_nationkey") < 12)
          .select(col("n_nationkey").as("pk-001"))
          .coalesce(1).write.parquet(s"$table/stage")
        val part = new java.io.File(s"$table/stage").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dest = new java.io.File(s"$table/seed-000.parquet")
        require(part.renameTo(dest), "q435: fixture move failed")
        val mapped = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_nationkey",
            org.apache.spark.sql.types.IntegerType, nullable = true,
            new org.apache.spark.sql.types.MetadataBuilder()
              .putLong("delta.columnMapping.id", 1L)
              .putString("delta.columnMapping.physicalName", "pk-001")
              .build())))
        def esc(x: String) =
          x.replace("\\", "\\\\").replace("\"", "\\\"")
        val lines = Seq(
          """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
          s"""{"metaData":{"id":"q435","format":{"provider":"parquet","options":{}},""" +
            s""""schemaString":"${esc(mapped.json)}","partitionColumns":[],""" +
            s""""configuration":{"delta.columnMapping.mode":"name",""" +
            s""""delta.columnMapping.maxColumnId":"1"},"createdTime":1700000000000}}""",
          s"""{"add":{"path":"seed-000.parquet","partitionValues":{},""" +
            s""""size":${dest.length},"modificationTime":1700000000000,""" +
            """"dataChange":true}}""")
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(s"$table/_delta_log"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$table/_delta_log/" + "%020d.json".format(0)),
          (lines.mkString("\n") + "\n").getBytes("UTF-8"))
        val ds = new graft.sources.DeltaDataset(table)
        // EVOLUTION: a new STRUCT column arrives via mergeSchema
        ds.append(nat.where(col("n_nationkey") >= 12 &&
            col("n_nationkey") < 25)
          .select(col("n_nationkey"),
            struct(col("n_regionkey").as("r")).as("s")),
          mergeSchema = true)                                         // v1
        val snap = graft.sources.DeltaReader.snapshot(table)(s).get
        val ef = snap.schema("s")
        val innerR = ef.dataType
          .asInstanceOf[org.apache.spark.sql.types.StructType]("r")
        require(ef.metadata.getString("delta.columnMapping.physicalName")
            .startsWith("col-") &&
          innerR.metadata.getString("delta.columnMapping.physicalName")
            .startsWith("col-"),
          "q435: evolution must stamp physical names at BOTH levels")
        require(ef.metadata.getLong("delta.columnMapping.id") == 2L &&
          innerR.metadata.getLong("delta.columnMapping.id") == 3L &&
          snap.configuration("delta.columnMapping.maxColumnId") == "3",
          "q435: maxColumnId must advance past the nested ids")
        val physTop =
          ef.metadata.getString("delta.columnMapping.physicalName")
        val mine = snap.files.filterNot(_.path.endsWith("seed-000.parquet"))
        require(mine.nonEmpty && mine.forall { f =>
          val sch = s.read.parquet(f.path).schema
          sch.fieldNames.contains(physTop) &&
            sch(physTop).dataType
              .asInstanceOf[org.apache.spark.sql.types.StructType]
              .fieldNames.toSeq == Seq(innerR.metadata
                .getString("delta.columnMapping.physicalName"))
        }, "q435: landed files must store physical names at BOTH levels")
        graft.sources.DeltaReader.scan(table)(s).get.agg(
          count(lit(1)).cast("bigint").as("n"),
          sum(col("n_nationkey")).cast("bigint").as("sum_key"),
          sum(col("s.r")).cast("bigint").as("sum_r"),
          count(col("s.r")).cast("bigint").as("n_r"))
      }),

    // ---- liquid clustering (`clustering` writer feature): a foreign
    // clustered table accepts appends, OPTIMIZE honors the
    // delta.clustering domain's columns via the z-order rewrite, and
    // the domain plus every row survive the rewrite. Round-13
    // residual #3 closed.
    Q("q436_delta_liquid_clustering",
      Some("""SELECT count(*)::BIGINT AS n,
             |  sum(n_nationkey)::BIGINT AS sum_key,
             |  sum(n_regionkey)::BIGINT AS sum_region
             |FROM nation WHERE n_nationkey < 25""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val table = tmp("graft_q436_")
        val nat = t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_regionkey"))
          .where(col("n_nationkey") < 25)
        // foreign clustered fixture: seed file + clustering domain
        nat.where(col("n_nationkey") < 12).coalesce(1)
          .write.parquet(s"$table/stage")
        val part = new java.io.File(s"$table/stage").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dest = new java.io.File(s"$table/seed-000.parquet")
        require(part.renameTo(dest), "q436: fixture move failed")
        val sch = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_nationkey",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("n_regionkey",
            org.apache.spark.sql.types.IntegerType)))
        def esc(x: String) =
          x.replace("\\", "\\\\").replace("\"", "\\\"")
        val domainCfg =
          """{"clusteringColumns":[["n_regionkey"],["n_nationkey"]]}"""
        val lines = Seq(
          """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
            """"writerFeatures":["clustering","domainMetadata"]}}""",
          s"""{"metaData":{"id":"q436","format":{"provider":"parquet","options":{}},""" +
            s""""schemaString":"${esc(sch.json)}","partitionColumns":[],""" +
            s""""configuration":{},"createdTime":1700000000000}}""",
          s"""{"add":{"path":"seed-000.parquet","partitionValues":{},""" +
            s""""size":${dest.length},"modificationTime":1700000000000,""" +
            """"dataChange":true}}""",
          s"""{"domainMetadata":{"domain":"delta.clustering",""" +
            s""""configuration":"${esc(domainCfg)}","removed":false}}""")
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(s"$table/_delta_log"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$table/_delta_log/" + "%020d.json".format(0)),
          (lines.mkString("\n") + "\n").getBytes("UTF-8"))
        val ds = new graft.sources.DeltaDataset(table)
        // the clustering feature must not refuse the append
        ds.append(nat.where(col("n_nationkey") >= 12))                // v1
        // OPTIMIZE resolves the clustering columns from the domain
        val v = ds.optimizeClustered()                                // v2
        require(v == 2L, "q436: optimizeClustered must commit")
        val snap = graft.sources.DeltaReader.snapshot(table)(s).get
        require(snap.domainMetadata.get("delta.clustering")
            .exists(_.contains("clusteringColumns")),
          "q436: the clustering domain must survive the rewrite")
        graft.sources.DeltaReader.scan(table)(s).get.agg(
          count(lit(1)).cast("bigint").as("n"),
          sum(col("n_nationkey")).cast("bigint").as("sum_key"),
          sum(col("n_regionkey")).cast("bigint").as("sum_region"))
      })
    ,

    // ---- Iceberg export of a COLUMN-MAPPED table -------------------
    // The IcebergCompat-default shape (name-mode mapping): logical
    // names + mapping ids as field-ids, physical parquet names
    // published via schema.name-mapping.default. The aggregate runs
    // over readExported (no _delta_log) and must equal the oracle.
    Q("q437_iceberg_mapped_export",
      Some("""SELECT o_orderstatus, count(*)::BIGINT AS n,
             |  sum(o_orderkey)::BIGINT AS sum_key
             |FROM orders WHERE o_orderkey < 700
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        import org.apache.spark.sql.types._
        val table = tmp("graft_q437_")
        def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
        def fm(id: Long, phys: String) = new MetadataBuilder()
          .putLong("delta.columnMapping.id", id)
          .putString("delta.columnMapping.physicalName", phys).build()
        val sch = StructType(Seq(
          StructField("o_orderkey", LongType, nullable = true,
            fm(1, "col-k111")),
          StructField("o_orderstatus", StringType, nullable = true,
            fm(2, "col-s222"))))
        // v0: EMPTY name-mode mapped table; the graft writer appends
        // physically-named files into it (DeltaMappedWriteSpec's path)
        val lines = Seq(
          """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
          s"""{"metaData":{"id":"q437","format":{"provider":"parquet","options":{}},""" +
            s""""schemaString":"${esc(sch.json)}",""" +
            s""""partitionColumns":["o_orderstatus"],""" +
            s""""configuration":{"delta.columnMapping.mode":"name",""" +
            s""""delta.columnMapping.maxColumnId":"2"},"createdTime":1700000000000}}""")
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(s"$table/_delta_log"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$table/_delta_log/" + "%020d.json".format(0)),
          (lines.mkString("\n") + "\n").getBytes("UTF-8"))
        val ds = new graft.sources.DeltaDataset(table, Seq("o_orderstatus"))
        ds.append(t(s, dir, "orders")
          .select(col("o_orderkey").cast("long"), col("o_orderstatus"))
          .where(col("o_orderkey") < 700))                            // v1
        val v = graft.sources.IcebergExport.export(table)
        require(v == 1L, s"q437: export must stamp the head version, got $v")
        val meta = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(table, "metadata", "v1.metadata.json")), "UTF-8")
        require(meta.contains("schema.name-mapping.default") &&
          meta.contains("col-k111"),
          "q437: mapped export must publish the physical-name mapping")
        val exported = graft.sources.IcebergExport.readExported(table).get
        require(exported.schema.fieldNames.toSeq ==
          Seq("o_orderkey", "o_orderstatus"),
          "q437: exported schema must use LOGICAL names in order")
        exported
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).cast("bigint").as("n"),
            sum(col("o_orderkey")).cast("bigint").as("sum_key"))
          .orderBy(col("o_orderstatus"))
      })
    ,

    // ---- Iceberg export HISTORY: snapshots accumulate --------------
    // Two exports at two Delta versions: the head metadata carries
    // both snapshots + the snapshot/metadata logs, and the OLDER
    // version stays resolvable via its own (self-contained)
    // v<N>.metadata.json — metadata-file time travel.
    Q("q438_iceberg_history",
      Some("""SELECT 'v0' AS phase, count(*)::BIGINT AS n,
             |  sum(o_orderkey)::BIGINT AS sum_key
             |FROM orders WHERE o_orderkey < 400
             |UNION ALL
             |SELECT 'v1' AS phase, count(*)::BIGINT AS n,
             |  sum(o_orderkey)::BIGINT AS sum_key
             |FROM orders WHERE o_orderkey < 800
             |ORDER BY phase""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val table = tmp("graft_q438_")
        val ord = t(s, dir, "orders").select("o_orderkey")
        val ds = new graft.sources.DeltaDataset(table)
        ds.write(ord.where(col("o_orderkey") < 400))                  // v0
        require(graft.sources.IcebergExport.export(table) == 0L)
        ds.append(ord.where(col("o_orderkey") >= 400 &&
          col("o_orderkey") < 800))                                   // v1
        require(graft.sources.IcebergExport.export(table) == 1L)
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val head = om.readTree(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(table, "metadata", "v1.metadata.json")), "UTF-8"))
        require(head.get("snapshots").size == 2 &&
          head.get("snapshot-log").size == 2 &&
          head.get("metadata-log").size == 1,
          "q438: the head metadata must carry the accumulated history")
        def agg(df: org.apache.spark.sql.DataFrame, phase: String) =
          df.agg(count(lit(1)).cast("bigint").as("n"),
            sum(col("o_orderkey")).cast("bigint").as("sum_key"))
            .withColumn("phase", lit(phase))
        val v0 = graft.sources.IcebergExport
          .readExported(table, asOfVersion = Some(0L)).get
        val v1 = graft.sources.IcebergExport.readExported(table).get
        agg(v0, "v0").unionByName(agg(v1, "v1"))
          .select(col("phase"), col("n"), col("sum_key"))
          .orderBy(col("phase"))
      })
    ,

    // ---- FOREIGN Iceberg table read --------------------------------
    // A hand-built HadoopCatalog v2 tree this exporter never wrote:
    // native-style data files that STORE the identity-partition
    // column, two manifests (ADDED + EXISTING statuses), and the
    // general reader (IcebergReader) resolves it — the inverse
    // interop direction to q424/q437.
    Q("q439_foreign_iceberg",
      Some("""SELECT CASE WHEN o_orderkey < 150 THEN 'lo' ELSE 'hi' END AS pgrp,
             |  count(*)::BIGINT AS n, sum(o_orderkey)::BIGINT AS sum_key
             |FROM orders WHERE o_orderkey < 300
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, dir) => {
        implicit val ss: org.apache.spark.sql.SparkSession = s
        val table = tmp("graft_q439_")
        val fs = new org.apache.hadoop.fs.Path(table)
          .getFileSystem(s.sessionState.newHadoopConf())
        def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
        val ord = t(s, dir, "orders")
          .select(col("o_orderkey").cast("long").as("o_orderkey"))
          .where(col("o_orderkey") < 300)
          .withColumn("pgrp", when(col("o_orderkey") < 150, "lo").otherwise("hi"))
        def oneFile(sub: String, df: org.apache.spark.sql.DataFrame): String = {
          df.coalesce(1).write.parquet(s"$table/$sub")
          new java.io.File(s"$table/$sub").listFiles()
            .filter(_.getName.endsWith(".parquet")).head.toURI.toString
        }
        val fLo = oneFile("d1", ord.where(col("pgrp") === "lo"))
        val fHi = oneFile("d2", ord.where(col("pgrp") === "hi"))
        val metaDir = new org.apache.hadoop.fs.Path(table, "metadata")
        fs.mkdirs(metaDir)
        val mSchema = new org.apache.avro.Schema.Parser().parse(
          """{"type":"record","name":"manifest_entry","fields":[
            |{"name":"status","type":"int","field-id":0},
            |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
            |{"name":"content","type":"int","field-id":134},
            |{"name":"file_path","type":"string","field-id":100},
            |{"name":"file_format","type":"string","field-id":101},
            |{"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[
            |{"name":"pgrp_0","type":["null","string"],"default":null,"field-id":1000}]}},
            |{"name":"record_count","type":"long","field-id":103},
            |{"name":"file_size_in_bytes","type":"long","field-id":104}
            |]}}]}""".stripMargin)
        val dfS = mSchema.getField("data_file").schema()
        val pS = dfS.getField("partition").schema()
        def entry(status: Int, path: String, pv: String) = {
          val p = new org.apache.avro.generic.GenericData.Record(pS)
          p.put(0, pv)
          val d = new org.apache.avro.generic.GenericData.Record(dfS)
          d.put("content", Int.box(0)); d.put("file_path", path)
          d.put("file_format", "PARQUET"); d.put("partition", p)
          d.put("record_count", Long.box(0L))
          d.put("file_size_in_bytes", Long.box(100L))
          val e = new org.apache.avro.generic.GenericData.Record(mSchema)
          e.put("status", Int.box(status)); e.put("data_file", d); e
        }
        def writeAvro(p: org.apache.hadoop.fs.Path,
                      schema: org.apache.avro.Schema,
                      recs: Seq[org.apache.avro.generic.GenericRecord]): Unit = {
          val w = new org.apache.avro.file.DataFileWriter(
            new org.apache.avro.generic.GenericDatumWriter[
              org.apache.avro.generic.GenericRecord](schema))
          val out = fs.create(p, true)
          try { w.create(schema, out); recs.foreach(w.append) }
          finally w.close()
        }
        val m1 = new org.apache.hadoop.fs.Path(metaDir, "m1.avro")
        val m2 = new org.apache.hadoop.fs.Path(metaDir, "m2.avro")
        writeAvro(m1, mSchema, Seq(entry(1, fLo, "lo")))
        writeAvro(m2, mSchema, Seq(entry(0, fHi, "hi")))
        val lSchema = new org.apache.avro.Schema.Parser().parse(
          """{"type":"record","name":"manifest_file","fields":[
            |{"name":"manifest_path","type":"string","field-id":500},
            |{"name":"manifest_length","type":"long","field-id":501},
            |{"name":"partition_spec_id","type":"int","field-id":502},
            |{"name":"content","type":"int","field-id":517},
            |{"name":"added_snapshot_id","type":"long","field-id":503}
            |]}""".stripMargin)
        def mfRec(p: org.apache.hadoop.fs.Path) = {
          val r = new org.apache.avro.generic.GenericData.Record(lSchema)
          r.put("manifest_path", p.toUri.toString)
          r.put("manifest_length", Long.box(fs.getFileStatus(p).getLen))
          r.put("partition_spec_id", Int.box(0))
          r.put("content", Int.box(0))
          r.put("added_snapshot_id", Long.box(42L)); r
        }
        val list = new org.apache.hadoop.fs.Path(metaDir, "snap-42.avro")
        writeAvro(list, lSchema, Seq(mfRec(m1), mfRec(m2)))
        val body =
          s"""{"format-version":2,"table-uuid":"foreign-q439",""" +
            s""""location":"${esc(table)}","last-sequence-number":1,""" +
            s""""last-updated-ms":1700000000000,"last-column-id":2,""" +
            s""""current-schema-id":0,"schemas":[{"type":"struct","schema-id":0,"fields":[""" +
            s"""{"id":1,"name":"o_orderkey","required":false,"type":"long"},""" +
            s"""{"id":2,"name":"pgrp","required":false,"type":"string"}]}],""" +
            s""""default-spec-id":0,"partition-specs":[{"spec-id":0,"fields":[""" +
            s"""{"name":"pgrp_0","transform":"identity","source-id":2,"field-id":1000}]}],""" +
            s""""last-partition-id":1000,"default-sort-order-id":0,""" +
            s""""sort-orders":[{"order-id":0,"fields":[]}],"properties":{},""" +
            s""""current-snapshot-id":42,"snapshots":[{"snapshot-id":42,""" +
            s""""sequence-number":1,"timestamp-ms":1700000000000,"schema-id":0,""" +
            s""""manifest-list":"${esc(list.toUri.toString)}",""" +
            s""""summary":{"operation":"append"}}],"snapshot-log":[],"metadata-log":[]}"""
        java.nio.file.Files.write(
          java.nio.file.Paths.get(table, "metadata", "v3.metadata.json"),
          (body + "\n").getBytes("UTF-8"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(table, "metadata", "version-hint.text"),
          "3\n".getBytes("UTF-8"))
        val got = graft.sources.IcebergReader.read(table).get
        require(got.schema.fieldNames.toSeq == Seq("o_orderkey", "pgrp"),
          "q439: foreign schema must decode in declared order")
        got.groupBy(col("pgrp"))
          .agg(count(lit(1)).cast("bigint").as("n"),
            sum(col("o_orderkey")).cast("bigint").as("sum_key"))
          .orderBy(col("pgrp"))
      })
  )
}
