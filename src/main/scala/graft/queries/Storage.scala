package graft.queries

import graft.table.GraftTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Table-format operators exercised end-to-end inside the correctness
  * gate: each query materializes a graft table from testdata in a
  * scratch dir, drives a storage operation (upsert / delete / merge /
  * compact / time travel / incremental read), and returns a result the
  * DuckDB oracle can reproduce from the original parquet alone — so a
  * hash match proves the whole write→commit→plan→merge→read loop.
  */
object Storage {

  private def scratch(name: String): String =
    Files.createTempDirectory(s"graft-$name-").toString + "/table"

  /** Bind-once gate catalog + per-invocation table DROP — the gate
    * harness's idempotence contract in ONE place. Spark caches the
    * catalog INSTANCE per name, so a gate that re-bound a fresh
    * warehouse on re-invocation (bench retry, twice-in-one-session
    * probe) left the cached instance on the FIRST warehouse while
    * direct `GraftTable.load(path)` hit the second — the
    * once-per-session trap behind the r16 g39/g72/g74 fixes. This
    * helper binds `name` to a temp warehouse exactly once per session
    * (extra confs applied only on that first bind), ensures the
    * namespace, drops the listed tables, and returns the warehouse
    * the CACHED catalog actually uses — so path-based loads and SQL
    * agree on every invocation. */
  private[queries] def gateCatalog(
      s: SparkSession, name: String, dropTables: Seq[String],
      impl: String = "graft.sources.GraftCatalog",
      ns: String = "gate",
      extraConf: Map[String, String] = Map.empty): String = {
    val key = s"spark.sql.catalog.$name.warehouse"
    val wh = s.conf.getOption(key).getOrElse {
      val w = Files.createTempDirectory(s"graft-$name-wh").toString
      s.conf.set(s"spark.sql.catalog.$name", impl)
      extraConf.foreach { case (k, v) =>
        s.conf.set(s"spark.sql.catalog.$name.$k", v) }
      s.conf.set(key, w)
      w
    }
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.$ns")
    dropTables.foreach(t => s.sql(s"DROP TABLE IF EXISTS $name.$ns.$t"))
    wh
  }

  private def ordersTable(
      s: SparkSession, dir: String,
      options: Map[String, String] = Map.empty,
      primaryKeys: Seq[String] = Seq.empty,
      partitionKeys: Seq[String] = Seq.empty,
      extraCols: DataFrame => DataFrame = identity): (GraftTable, DataFrame) = {
    val src = extraCols(tbl(s, dir, "orders"))
    val t = GraftTable.create(s, scratch("orders"), src.schema,
      partitionKeys = partitionKeys, primaryKeys = primaryKeys, options = options)
    (t, src)
  }

  val defs: Vector[QDef] = Vector(
    // ---- append-table roundtrip: ingest → snapshot commit → merged
    // read must preserve every row.
    QDef(
      "g01_append_roundtrip",
      """SELECT l_returnflag,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "lineitem")
      val t = GraftTable.create(s, scratch("g01"), src.schema,
        partitionKeys = Seq("l_returnflag"))
      t.write(src)
      t.read.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), asDouble(sum(dec(col("l_quantity")))).as("qty"))
    },

    // ---- PK upsert: second batch overwrites a third of the keys; the
    // merged read must show exactly the upserted values.
    QDef(
      "g02_pk_upsert",
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(ROUND(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
        |                  ELSE o_totalprice END, 2) AS DOUBLE) AS totalprice
        |FROM orders""".stripMargin) { (s, dir) =>
      val (t, src0) = ordersTable(s, dir,
        options = Map("sequence.field" -> "up_seq", "bucket" -> "4"),
        primaryKeys = Seq("o_orderkey"),
        extraCols = _.withColumn("up_seq", lit(1L)))
      t.write(src0)
      t.write(src0.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("up_seq", lit(2L)))
      t.read.select(col("o_orderkey"), col("o_orderstatus"),
        asDouble(col("o_totalprice")).as("totalprice"))
    },

    // ---- row-level DELETE on a PK table.
    QDef(
      "g03_pk_delete",
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
        |FROM orders WHERE o_orderstatus <> 'F'
        |GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      val (t, src0) = ordersTable(s, dir,
        options = Map("sequence.field" -> "up_seq"),
        primaryKeys = Seq("o_orderkey"),
        extraCols = _.withColumn("up_seq", lit(1L)))
      t.write(src0)
      t.delete(col("o_orderstatus") === "F")
      t.read.groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    },

    // ---- MERGE INTO: update matched high-value keys, delete matched
    // low-value keys, insert unmatched.
    QDef(
      "g04_merge_into",
      """WITH target AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
        |source AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |             o_totalprice * 10 AS o_totalprice, o_orderdate, o_orderpriority
        |           FROM orders WHERE o_orderkey % 4 < 2)
        |SELECT o_orderkey, CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS totalprice FROM (
        |  -- matched (even, %4<2 → %4=0): delete if totalprice<1000, else update
        |  SELECT s.o_orderkey, s.o_totalprice FROM source s
        |  WHERE s.o_orderkey % 2 = 0 AND NOT s.o_totalprice < 1000
        |  UNION ALL
        |  -- unmatched source rows (odd): inserted
        |  SELECT s.o_orderkey, s.o_totalprice FROM source s WHERE s.o_orderkey % 2 = 1
        |  UNION ALL
        |  -- untouched target rows (even, %4>=2 → %4=2)
        |  SELECT t.o_orderkey, t.o_totalprice FROM target t WHERE t.o_orderkey % 4 >= 2)""".stripMargin) { (s, dir) =>
      val (t, src0) = ordersTable(s, dir,
        options = Map("sequence.field" -> "up_seq"),
        primaryKeys = Seq("o_orderkey"),
        extraCols = _.withColumn("up_seq", lit(1L)))
      t.write(src0.filter(col("o_orderkey") % 2 === 0))
      val source = src0.filter(col("o_orderkey") % 4 < 2)
        .withColumn("o_totalprice", col("o_totalprice") * 10)
        .withColumn("up_seq", lit(2L))
      t.mergeInto(source, whenMatchedDelete = Some(col("o_totalprice") < 1000))
      t.read.select(col("o_orderkey"), asDouble(col("o_totalprice")).as("totalprice"))
    },

    // ---- compaction + time travel: full compaction must not change
    // the logical table; versionAsOf sees the pre-compaction history.
    QDef(
      "g05_compact_timetravel",
      """SELECT 'v0' AS version, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT 'latest' AS version, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
        |FROM orders""".stripMargin) { (s, dir) =>
      val (t, src0) = ordersTable(s, dir,
        options = Map("sequence.field" -> "up_seq", "bucket" -> "2"),
        primaryKeys = Seq("o_orderkey"),
        extraCols = _.withColumn("up_seq", lit(1L)))
      t.write(src0.filter(col("o_orderkey") % 2 === 0))
      t.write(src0.filter(col("o_orderkey") % 2 === 1))
      t.compact()
      def agg(df: DataFrame, label: String) =
        df.agg(count(lit(1)).as("n"), asDouble(sum(dec(col("o_totalprice")))).as("total"))
          .select(lit(label).as("version"), col("n"), col("total"))
      agg(t.versionAsOf(0L), "v0").unionAll(agg(t.read, "latest"))
    },

    // ---- incremental read (changelog between snapshots).
    QDef(
      "g06_incremental_read",
      """SELECT o_orderkey, '+I' AS _row_kind
        |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin) { (s, dir) =>
      val (t, src0) = ordersTable(s, dir,
        options = Map("sequence.field" -> "up_seq"),
        primaryKeys = Seq("o_orderkey"),
        extraCols = _.withColumn("up_seq", lit(1L)))
      t.write(src0.filter(col("o_orderkey") % 2 === 0))
      t.write(src0.filter(col("o_orderkey") % 2 === 1))
      t.incrementalRead(0L, 1L).select(col("o_orderkey"), col("_row_kind"))
    },

    // ---- pruned scan: partition + stats skipping must not change
    // results (file-skip correctness).
    QDef(
      "g07_pruned_scan",
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderstatus = 'O' AND o_totalprice > 50000
        |GROUP BY o_orderpriority""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "orders")
      val t = GraftTable.create(s, scratch("g07"), src.schema,
        partitionKeys = Seq("o_orderstatus"))
      t.write(src)
      t.scan(col("o_orderstatus") === "O" && col("o_totalprice") > 50000)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), asDouble(sum(dec(col("o_totalprice")))).as("total"))
    },

    // ---- aggregation merge engine over the events stream: per-key
    // running aggregates maintained by the storage layer.
    QDef(
      "g08_agg_merge_engine",
      """SELECT user_id,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_value,
        |  CAST(MAX(event_id) AS BIGINT) AS last_event_id
        |FROM events GROUP BY user_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val src = tbl(s, dir, "events")
        .select(col("user_id"), col("value").cast(DecimalType(18, 4)).as("value"),
          col("event_id"))
      val t = GraftTable.create(s, scratch("g08"), src.schema,
        primaryKeys = Seq("user_id"),
        options = Map(
          "merge-engine" -> "aggregation",
          "fields.value.aggregate-function" -> "sum",
          "fields.event_id.aggregate-function" -> "max",
          "bucket" -> "2"))
      // replay in two epochs to force cross-commit merging
      t.write(src.filter(col("event_id") % 2 === 0))
      t.write(src.filter(col("event_id") % 2 === 1))
      t.read.select(col("user_id"),
        asDouble(col("value"), 4).as("total_value"),
        col("event_id").as("last_event_id"))
    },

    // ---- aggregate pushdown: COUNT answered from manifest stats
    // alone (no data files opened), before and after compaction.
    QDef(
      "g12_count_pushdown",
      """SELECT 'append' AS mode, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem
        |UNION ALL
        |SELECT 'pk_compacted' AS mode, CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n
        |FROM orders""".stripMargin) { (s, dir) =>
      import s.implicits._
      val li = tbl(s, dir, "lineitem")
      val ta = GraftTable.create(s, scratch("g12a"), li.schema)
      ta.write(li)
      val (tp, src) = ordersTable(s, dir,
        options = Map("sequence.field" -> "up_seq", "bucket" -> "2"),
        primaryKeys = Seq("o_orderkey"),
        extraCols = _.withColumn("up_seq", lit(1L)))
      tp.write(src)
      tp.compact()
      Seq(("append", ta.countRows()), ("pk_compacted", tp.countRows()))
        .toDF("mode", "n")
    },

    // ---- top-N pushdown: ORDER BY ... LIMIT k touching only files
    // whose stats ranges can contribute.
    QDef(
      "g13_topn_pushdown",
      """SELECT CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
        |FROM orders ORDER BY o_totalprice DESC LIMIT 10""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "orders")
      val t = GraftTable.create(s, scratch("g13"), src.schema)
      // several commits → several files → stats ranges to prune on
      (0 until 4).foreach(i => t.write(src.filter(col("o_orderkey") % 4 === i)))
      t.readTopN("o_totalprice", 10, descending = true)
        .select(asDouble(col("o_totalprice")).as("price"))
    },

    // ---- primary-key point lookup with bucket pruning.
    QDef(
      "g14_point_lookup",
      """SELECT o_orderkey, o_orderstatus, CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
        |FROM orders WHERE o_orderkey IN (1, 500, 1205)""".stripMargin) { (s, dir) =>
      val (t, src) = ordersTable(s, dir,
        options = Map("sequence.field" -> "up_seq", "bucket" -> "8"),
        primaryKeys = Seq("o_orderkey"),
        extraCols = _.withColumn("up_seq", lit(1L)))
      t.write(src)
      Seq(1L, 500L, 1205L)
        .map(k => t.lookup(Map("o_orderkey" -> k)))
        .reduce(_ unionAll _)
        .select(col("o_orderkey"), col("o_orderstatus"),
          asDouble(col("o_totalprice")).as("price"))
    },

    // ---- bloom file index: point predicates on overlapping-range
    // files answered by sidecar membership filters.
    QDef(
      "g15_bloom_index",
      """SELECT o_orderkey, CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
        |FROM orders WHERE o_orderkey IN (42, 4242, 999999)""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "orders")
      val t = GraftTable.create(s, scratch("g15"), src.schema,
        options = Map("file-index.bloom-filter.columns" -> "o_orderkey"))
      // interleaved commits → overlapping min/max, bloom does the work
      (0 until 4).foreach(i => t.write(src.filter(col("o_orderkey") % 4 === i)))
      t.scan(col("o_orderkey").isin(42L, 4242L, 999999L))
        .select(col("o_orderkey"), asDouble(col("o_totalprice")).as("price"))
    },

    // ---- deletion vectors: DELETE+UPDATE via position bitmaps (no
    // file rewrite), then a read that applies them.
    QDef(
      "g16_deletion_vectors",
      """SELECT o_orderkey,
        |  CAST(ROUND(CASE WHEN o_orderkey % 7 = 1 THEN o_totalprice * 3
        |                  ELSE o_totalprice END, 2) AS DOUBLE) AS price
        |FROM orders WHERE o_orderstatus <> 'F'""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "orders")
      val t = GraftTable.create(s, scratch("g16"), src.schema,
        options = Map("deletion-vectors.enabled" -> "true"))
      t.write(src)
      t.delete(col("o_orderstatus") === "F")
      t.update(Map("o_totalprice" -> (col("o_totalprice") * 3)),
        col("o_orderkey") % 7 === 1)
      t.read.select(col("o_orderkey"), asDouble(col("o_totalprice")).as("price"))
    },

    // ---- sketch field aggregates: per-event-type distinct users via
    // theta sketch + 64-bit roaring bitmap, merged by the aggregation
    // engine across two epochs. Both are exact at this cardinality, so
    // the estimates must equal DuckDB's exact distinct counts.
    QDef(
      "g17_sketch_aggregates",
      """SELECT event_type,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS theta_users,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS rbm_users
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      import graft.functions.Sketches
      import org.apache.spark.sql.types._
      val evAll = tbl(s, dir, "events").select(col("event_type"), col("user_id"),
        Sketches.thetaSingletonUdf(col("user_id")).as("theta_users"),
        Sketches.rbm64SingletonUdf(col("user_id")).as("rbm_users"))
      def ev(epoch: Int) = evAll.filter(col("user_id") % 2 === epoch)
        .drop("user_id")
      val t = GraftTable.create(s, scratch("g17"),
        StructType(Seq(
          StructField("event_type", StringType, nullable = false),
          StructField("theta_users", BinaryType, nullable = true),
          StructField("rbm_users", BinaryType, nullable = true))),
        primaryKeys = Seq("event_type"),
        options = Map(
          "merge-engine" -> "aggregation",
          "fields.theta_users.aggregate-function" -> "theta_sketch",
          "fields.rbm_users.aggregate-function" -> "rbm64",
          "bucket" -> "2"))
      val sink = graft.streaming.GraftStreaming.sink(t)
      // two epochs: sketches must merge across commits
      sink(ev(0), 0L)
      sink(ev(1), 1L)
      t.read.select(col("event_type"),
        Sketches.thetaEstimateUdf(col("theta_users")).as("theta_users"),
        Sketches.rbm64CardinalityUdf(col("rbm_users")).as("rbm_users"))
    },

    // ---- plain-SQL surface through the DSv2 catalog: DDL + INSERT +
    // filtered aggregate all via spark.sql against graft storage.
    QDef(
      "g18_sql_catalog",
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
        |FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      gateCatalog(s, "graft_gate", Seq("orders_sql"))
      tbl(s, dir, "orders").createOrReplaceTempView("g18_src")
      s.sql("""CREATE TABLE graft_gate.gate.orders_sql
              |(o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
              | o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING)
              |PARTITIONED BY (o_orderstatus)""".stripMargin)
      s.sql("""INSERT INTO graft_gate.gate.orders_sql
              |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
              |       o_orderdate, o_orderpriority FROM g18_src""".stripMargin)
      s.sql("""SELECT o_orderstatus, COUNT(*) AS n,
              |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
              |FROM graft_gate.gate.orders_sql
              |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
              |GROUP BY o_orderstatus""".stripMargin)
    },

    // ---- full changelog derivation between snapshots: -U/+U pairs for
    // changed keys, +I for inserts (the full-compaction changelog
    // producer's output, computed lazily from two states).
    QDef(
      "g19_changelog_between",
      """SELECT o_orderkey, '-U' AS _row_kind,
        |  CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT o_orderkey, '+U' AS _row_kind,
        |  CAST(ROUND(o_totalprice * 2, 2) AS DOUBLE) AS price
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT o_orderkey + 10000000 AS o_orderkey, '+I' AS _row_kind,
        |  CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
        |FROM orders WHERE o_orderkey % 5 = 0""".stripMargin) { (s, dir) =>
      val (t, src0) = ordersTable(s, dir,
        options = Map("sequence.field" -> "up_seq", "bucket" -> "2"),
        primaryKeys = Seq("o_orderkey"),
        extraCols = _.withColumn("up_seq", lit(1L)))
      t.write(src0)
      val updates = src0.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val inserts = src0.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      t.write(updates.unionAll(inserts).withColumn("up_seq", lit(2L)))
      t.changelogBetween(0L, 1L)
        .select(col("o_orderkey"), col("_row_kind"),
          asDouble(col("o_totalprice")).as("price"))
    },

    // ---- schema evolution: write under schema v0, widen + rename,
    // write again under the evolved schema; the merged read maps the
    // old files through field ids (rename follows, ints cast up).
    QDef(
      "g20_schema_evolution",
      """SELECT o_orderkey, CAST(o_custkey AS BIGINT) AS o_custkey,
        |  o_orderpriority AS priority
        |FROM orders""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val src = tbl(s, dir, "orders")
      val t = GraftTable.create(s, scratch("g20"),
        StructType(Seq(
          StructField("o_orderkey", LongType, nullable = false),
          StructField("o_custkey", IntegerType, nullable = true),
          StructField("o_orderpriority", StringType, nullable = true))))
      t.write(src.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey").cast("int"),
          col("o_orderpriority")))
      t.widenColumn("o_custkey", LongType)
      t.renameColumn("o_orderpriority", "priority")
      val t2 = GraftTable.load(s, t.path)
      t2.write(src.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority").as("priority")))
      t2.read.select(col("o_orderkey"), col("o_custkey"), col("priority"))
    },

    // ---- SQL DML through the DSv2 catalog: DELETE FROM (partition
    // drop + rewrite tiers) with the result read back through the
    // native columnar scan (GraftBatchScan), not the V1 fallback.
    QDef(
      "g21_sql_delete",
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
        |FROM orders WHERE o_orderstatus <> 'F' AND o_orderkey >= 150
        |GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      gateCatalog(s, "graft_g21", Seq("orders_dml"))
      tbl(s, dir, "orders").createOrReplaceTempView("g21_src")
      s.sql("""CREATE TABLE graft_g21.gate.orders_dml
              |(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)
              |PARTITIONED BY (o_orderstatus)""".stripMargin)
      s.sql("""INSERT INTO graft_g21.gate.orders_dml
              |SELECT o_orderkey, o_orderstatus, o_totalprice FROM g21_src""".stripMargin)
      s.sql("DELETE FROM graft_g21.gate.orders_dml WHERE o_orderstatus = 'F'")
      s.sql("DELETE FROM graft_g21.gate.orders_dml WHERE o_orderkey < 150")
      s.sql("""SELECT o_orderstatus, COUNT(*) AS n,
              |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
              |FROM graft_g21.gate.orders_dml
              |GROUP BY o_orderstatus""".stripMargin)
    },

    // ---- dynamic buckets (bucket = -1): keys keep their first bucket
    // via the index join, new keys grow the bucket range; the merged
    // read must be identical to a fixed-bucket upsert.
    QDef(
      "g22_dynamic_bucket",
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(ROUND(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
        |                  ELSE o_totalprice END, 2) AS DOUBLE) AS totalprice
        |FROM orders""".stripMargin) { (s, dir) =>
      val (t, src0) = ordersTable(s, dir,
        options = Map("sequence.field" -> "up_seq", "bucket" -> "-1",
          "dynamic-bucket.target-row-num" -> "5000"),
        primaryKeys = Seq("o_orderkey"),
        extraCols = _.withColumn("up_seq", lit(1L)))
      t.write(src0.filter(col("o_orderkey") % 2 === 0))
      t.write(src0.filter(col("o_orderkey") % 2 === 1))
      t.write(src0.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("up_seq", lit(2L)))
      t.read.select(col("o_orderkey"), col("o_orderstatus"),
        asDouble(col("o_totalprice")).as("totalprice"))
    },

    // ---- hilbert sort-compact: the rewrite must preserve content
    // exactly while reclustering; the scan after compaction exercises
    // the tightened stats.
    QDef(
      "g23_hilbert_compact",
      """SELECT o_orderkey, o_custkey, CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
        |FROM orders WHERE o_custkey <= 200 AND o_orderkey <= 40000""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "orders")
      val t = GraftTable.create(s, scratch("g23"), src.schema)
      (0 until 4).foreach(i => t.write(src.filter(col("o_orderkey") % 4 === i)))
      t.sortCompact("hilbert", Seq("o_orderkey", "o_custkey"), targetFiles = 8)
      t.scan(col("o_custkey") <= 200 && col("o_orderkey") <= 40000)
        .select(col("o_orderkey"), col("o_custkey"),
          asDouble(col("o_totalprice")).as("price"))
    },

    // ---- bitmap file index: exact per-value refutation on a
    // low-cardinality column whose min/max ranges fully overlap.
    QDef(
      "g24_bitmap_index",
      """SELECT o_orderkey, o_orderpriority
        |FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        |  AND o_orderkey % 4 = 0""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "orders")
      val t = GraftTable.create(s, scratch("g24"), src.schema,
        options = Map("file-index.bitmap.columns" -> "o_orderpriority"))
      (0 until 4).foreach(i => t.write(src.filter(col("o_orderkey") % 4 === i)))
      t.scan(col("o_orderpriority").isin("1-URGENT", "5-LOW") &&
          col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey"), col("o_orderpriority"))
    },

    // ---- BSI file index: exact range refutation on a numeric column
    // whose min/max spans fully overlap across files — the bit-sliced
    // index answers range-existence where stats cannot.
    QDef(
      "g26_bsi_range_index",
      """SELECT o_orderkey, CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
        |FROM orders
        |WHERE o_orderkey >= 1200 AND o_orderkey <= 1300""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "orders")
      val t = GraftTable.create(s, scratch("g26"), src.schema,
        options = Map("file-index.bsi.columns" -> "o_orderkey"))
      // interleaved commits → every file spans ~the full key range, so
      // only the BSI can skip files for the conjunctive range
      (0 until 4).foreach(i => t.write(src.filter(col("o_orderkey") % 4 === i)))
      t.scan(col("o_orderkey") >= 1200L && col("o_orderkey") <= 1300L)
        .select(col("o_orderkey"), asDouble(col("o_totalprice")).as("price"))
    },

    // ---- ORC storage: same snapshot/manifest protocol, ORC data
    // files with footer-derived stats driving the same pruning
    // (reference: OrcFileFormat — its fastest scan format).
    QDef(
      "g28_orc_storage",
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey > 700
        |GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "orders")
      val t = GraftTable.create(s, scratch("g28"), src.schema,
        options = Map("file.format" -> "orc"))
      (0 until 2).foreach(i => t.write(src.filter(col("o_orderkey") % 2 === i)))
      t.scan(col("o_orderkey") > 700L)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), asDouble(sum(dec(col("o_totalprice")))).as("total"))
    },

    // ---- storage-partitioned join: two identically-bucketed PK
    // tables, compacted, joined on the full primary key — the native
    // bucketed scans report KeyGroupedPartitioning so the join runs
    // with NO shuffle on either side (the at-scale warehouse join).
    QDef(
      "g27_bucketed_join",
      """SELECT t1.o_orderkey,
        |  CAST(ROUND(t1.o_totalprice, 2) AS DOUBLE) AS price,
        |  CAST(ROUND(t2.p2, 2) AS DOUBLE) AS price2
        |FROM orders t1
        |JOIN (SELECT o_orderkey, o_totalprice * 2 AS p2 FROM orders
        |      WHERE o_orderkey % 2 = 0) t2
        |  ON t1.o_orderkey = t2.o_orderkey""".stripMargin) { (s, dir) =>
      gateCatalog(s, "graft_g27", Seq("t1", "t2"))
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      tbl(s, dir, "orders").createOrReplaceTempView("g27_src")
      Seq("t1", "t2").foreach(t => s.sql(
        s"""CREATE TABLE graft_g27.gate.$t (o_orderkey BIGINT, price DOUBLE)
           |TBLPROPERTIES ('primary-key'='o_orderkey', 'bucket'='4')""".stripMargin))
      s.sql("""INSERT INTO graft_g27.gate.t1
              |SELECT o_orderkey, o_totalprice FROM g27_src""".stripMargin)
      s.sql("""INSERT INTO graft_g27.gate.t2
              |SELECT o_orderkey, o_totalprice * 2 FROM g27_src
              |WHERE o_orderkey % 2 = 0""".stripMargin)
      s.sql("CALL graft_g27.sys.compact('gate.t1')")
      s.sql("CALL graft_g27.sys.compact('gate.t2')")
      s.sql("""SELECT t1.o_orderkey,
              |  CAST(ROUND(t1.price, 2) AS DOUBLE) AS price,
              |  CAST(ROUND(t2.price, 2) AS DOUBLE) AS price2
              |FROM graft_g27.gate.t1 t1
              |JOIN graft_g27.gate.t2 t2 ON t1.o_orderkey = t2.o_orderkey""".stripMargin)
    },

    // ---- CALL sys.* procedures through SQL: upsert history, compact,
    // expire old snapshots, tag — the read after maintenance must
    // still be the merged logical table.
    QDef(
      "g25_sql_procedures",
      """SELECT o_orderkey,
        |  CAST(ROUND(CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 3
        |                  ELSE o_totalprice END, 2) AS DOUBLE) AS price
        |FROM orders""".stripMargin) { (s, dir) =>
      gateCatalog(s, "graft_g25", Seq("t"))
      tbl(s, dir, "orders").createOrReplaceTempView("g25_src")
      s.sql("""CREATE TABLE graft_g25.gate.t
              |(o_orderkey BIGINT, o_totalprice DOUBLE, up_seq BIGINT)
              |TBLPROPERTIES ('primary-key'='o_orderkey',
              |  'sequence.field'='up_seq', 'bucket'='4')""".stripMargin)
      s.sql("""INSERT INTO graft_g25.gate.t
              |SELECT o_orderkey, o_totalprice, 1L FROM g25_src""".stripMargin)
      s.sql("""INSERT INTO graft_g25.gate.t
              |SELECT o_orderkey, o_totalprice * 3, 2L FROM g25_src
              |WHERE o_orderkey % 5 = 0""".stripMargin)
      s.sql("CALL graft_g25.sys.compact('gate.t')")
      s.sql("CALL graft_g25.sys.create_tag('gate.t', 'post-compact')")
      s.sql("CALL graft_g25.sys.expire_snapshots('gate.t', 1)")
      s.sql("""SELECT o_orderkey, CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
              |FROM graft_g25.gate.t""".stripMargin)
    },

    // ---- VARIANT column: semi-structured JSON ingested as Spark 4
    // VariantType, stored and merged through the table layer, fields
    // extracted back out with variant_get (reference: VariantType.java,
    // paimon-common data/variant/).
    QDef(
      "g29_variant_type",
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |  event_type AS etype
        |FROM events
        |WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 80""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          parse_json(col("props")).as("v"))
      val t = GraftTable.create(s, scratch("g29"), src.schema)
      t.write(src)
      t.read
        .select(col("event_id"),
          variant_get(col("v"), "$.k", "bigint").as("k"),
          col("event_type").as("etype"))
        .filter(col("k") > 80)
    },

    // ---- TIME(p) column: Spark 4.1 TimeType stored and read back
    // through the table layer, filtered on the time value (reference:
    // TimeType.java — millis-of-day semantics).
    QDef(
      "g30_time_type",
      """SELECT event_id,
        |  CAST(make_time(CAST(event_id % 24 AS INT),
        |                 CAST(event_id % 60 AS INT),
        |                 CAST(event_id % 60 AS INT)) AS VARCHAR) AS t
        |FROM events
        |WHERE make_time(CAST(event_id % 24 AS INT),
        |                CAST(event_id % 60 AS INT),
        |                CAST(event_id % 60 AS INT)) > TIME '12:00:00'""".stripMargin) { (s, dir) =>
      // requires spark.sql.timeType.enabled=true, set once at session
      // build (Bench/Verify) — setting it here would order-dependently
      // leak the flag into later queries
      val src = tbl(s, dir, "events")
        .select(col("event_id"),
          make_time((col("event_id") % 24).cast("int"),
            (col("event_id") % 60).cast("int"),
            (col("event_id") % 60).cast("int")).as("t"))
      val t = GraftTable.create(s, scratch("g30"), src.schema)
      t.write(src)
      t.read.filter(col("t") > make_time(lit(12), lit(0), lit(0)))
        .select(col("event_id"), col("t").cast("string").as("t"))
    },

    // ---- changelog-producer=full-compaction: the COMPACT commit
    // persists the exact -U/+U/+I rows accumulated since the previous
    // compaction; the incremental read serves them with zero derivation
    // (reference: FullChangelogMergeTreeCompactRewriter,
    // FullChangelogMergeFunctionWrapper).
    QDef(
      "g31_fullcompact_changelog",
      """SELECT o_orderkey, '-U' AS _row_kind,
        |  CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT o_orderkey, '+U' AS _row_kind,
        |  CAST(ROUND(o_totalprice * 2, 2) AS DOUBLE) AS price
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT o_orderkey + 10000000 AS o_orderkey, '+I' AS _row_kind,
        |  CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
        |FROM orders WHERE o_orderkey % 5 = 0""".stripMargin) { (s, dir) =>
      val (t, src0) = ordersTable(s, dir,
        options = Map("sequence.field" -> "up_seq", "bucket" -> "2",
          "changelog-producer" -> "full-compaction"),
        primaryKeys = Seq("o_orderkey"),
        extraCols = _.withColumn("up_seq", lit(1L)))
      t.write(src0)
      t.compact() // baseline full compaction (changelog: all +I)
      val updates = src0.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val inserts = src0.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      t.write(updates.unionAll(inserts).withColumn("up_seq", lit(2L)))
      val cid = t.compact().get // persists the accumulated pairs
      t.incrementalRead(cid - 1, cid)
        .select(col("o_orderkey"), col("_row_kind"),
          asDouble(col("o_totalprice")).as("price"))
    },

    // ---- Avro data files (file.format=avro): row-oriented
    // write-optimized storage for LSM level-0, written/read via
    // avro-core with a streamed stats pass (reference:
    // paimon-format avro/AvroFileFormat.java:52 — the reference's
    // fastest LSM write format per BASELINE.md).
    QDef(
      "g32_avro_storage",
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey > 700
        |GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "orders")
      val t = GraftTable.create(s, scratch("g32"), src.schema,
        options = Map("file.format" -> "avro"))
      (0 until 2).foreach(i => t.write(src.filter(col("o_orderkey") % 2 === i)))
      t.scan(col("o_orderkey") > 700L)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), asDouble(sum(dec(col("o_totalprice")))).as("total"))
    },

    // ---- SQL surface for incremental reads: CALL sys.incremental_query
    // registers the lazy incremental DataFrame as a view and the SELECT
    // runs distributed — the whole scenario (DDL, inserts, TVF, read)
    // goes through spark.sql (reference:
    // PaimonTableValuedFunctions.paimon_incremental_query).
    QDef(
      "g33_sql_incremental_tvf",
      """SELECT o_orderkey, '+I' AS _row_kind,
        |  CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
        |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin) { (s, dir) =>
      gateCatalog(s, "graft_g33", Seq("t"))
      tbl(s, dir, "orders").createOrReplaceTempView("g33_src")
      s.sql("""CREATE TABLE graft_g33.gate.t
              |(o_orderkey BIGINT, o_totalprice DOUBLE, up_seq BIGINT)
              |TBLPROPERTIES ('primary-key'='o_orderkey',
              |  'sequence.field'='up_seq', 'bucket'='2')""".stripMargin)
      s.sql("""INSERT INTO graft_g33.gate.t
              |SELECT o_orderkey, o_totalprice, CAST(1 AS BIGINT)
              |FROM g33_src WHERE o_orderkey % 2 = 0""".stripMargin)
      s.sql("""INSERT INTO graft_g33.gate.t
              |SELECT o_orderkey, o_totalprice, CAST(1 AS BIGINT)
              |FROM g33_src WHERE o_orderkey % 2 = 1""".stripMargin)
      s.sql("CALL graft_g33.sys.incremental_query('gate.t', 0, 1, 'g33_chg')")
      s.sql("""SELECT o_orderkey, _row_kind,
              |  CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
              |FROM g33_chg""".stripMargin)
    },

    // ---- global cross-partition index: a PK table partitioned OUTSIDE
    // its primary key; keys MOVE partitions between writes, the write
    // retracts them from the old partition via the persisted key →
    // partition index, and partition-pruned reads stay exact
    // (reference: crosspartition/GlobalIndexAssigner.java:79).
    QDef(
      "g34_cross_partition_upsert",
      """SELECT o_orderkey, 'X' AS status,
        |  CAST(ROUND(o_totalprice * 3, 2) AS DOUBLE) AS price
        |FROM orders WHERE o_orderkey % 4 = 0
        |UNION ALL
        |SELECT o_orderkey, 'O' AS status,
        |  CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
        |FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 4 <> 0""".stripMargin) { (s, dir) =>
      val (t, src0) = ordersTable(s, dir,
        options = Map("sequence.field" -> "up_seq", "bucket" -> "2"),
        primaryKeys = Seq("o_orderkey"),
        partitionKeys = Seq("o_orderstatus"),
        extraCols = _.withColumn("up_seq", lit(1L)))
      t.write(src0)
      // every 4th key moves to a brand-new partition 'X'
      t.write(src0.filter(col("o_orderkey") % 4 === 0)
        .withColumn("o_orderstatus", lit("X"))
        .withColumn("o_totalprice", col("o_totalprice") * 3)
        .withColumn("up_seq", lit(2L)))
      // partition-pruned reads: the moved keys appear ONLY in X, and
      // O no longer contains its movers
      t.scan(col("o_orderstatus") === "X")
        .select(col("o_orderkey"), col("o_orderstatus").as("status"),
          asDouble(col("o_totalprice")).as("price"))
        .unionAll(t.scan(col("o_orderstatus") === "O")
          .select(col("o_orderkey"), col("o_orderstatus").as("status"),
            asDouble(col("o_totalprice")).as("price")))
    },

    // ---- global secondary (value → data-file) index: one bounded
    // index read resolves the clerk predicate to the exact file set —
    // the files interleave order keys so min/max stats can't separate
    // them, and per-file sidecar probing would cost O(files) IO at
    // scale where this is a single value-keyed lookup.
    QDef(
      "g35_secondary_index",
      """SELECT o_orderkey, CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
        |FROM orders
        |WHERE o_custkey = (SELECT o_custkey FROM orders ORDER BY o_orderkey LIMIT 1)""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "orders")
      val t = GraftTable.create(s, scratch("g35"), src.schema,
        options = Map(GraftTable.SecIndexColumns -> "o_custkey"))
      (0 until 3).foreach(i => t.write(src.filter(col("o_orderkey") % 3 === i)))
      val cust = src.orderBy("o_orderkey").select("o_custkey").head.getLong(0)
      t.scan(col("o_custkey") === cust)
        .select(col("o_orderkey"),
          asDouble(round(col("o_totalprice"), 2)).as("price"))
    },

    // ---- TopN pushdown through SQL: ORDER BY ... LIMIT k via
    // spark.sql plans a GraftBatchScan restricted to the files whose
    // [min,max] can reach the k-th best boundary (SupportsPushDownTopN
    // on the ScanBuilder; reference: PaimonScanBuilder.pushTopN:42-87 +
    // TopNDataSplitEvaluator.java:42). Price-clustered commits give
    // disjoint file ranges, so the boundary actually prunes.
    QDef(
      "g36_sql_topn_pushdown",
      """SELECT CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
        |FROM orders ORDER BY o_totalprice DESC LIMIT 10""".stripMargin) { (s, dir) =>
      gateCatalog(s, "graft_g36", Seq("t"))
      tbl(s, dir, "orders").createOrReplaceTempView("g36_src")
      // band by precomputed quartile literals, NOT NTILE: an
      // unpartitioned window is the exact single-partition anti-pattern
      // the engine avoids everywhere else, and the pushdown only needs
      // DISJOINT price ranges per commit, not equal-sized ones
      val qs = tbl(s, dir, "orders")
        .agg(expr("percentile_approx(o_totalprice, array(0.25d, 0.5d, 0.75d))"))
        .head.getSeq[Double](0)
      s.sql(s"""CREATE OR REPLACE TEMP VIEW g36_banded AS
              |SELECT o_orderkey, o_totalprice,
              |  CASE WHEN o_totalprice < ${qs(0)} THEN 1
              |       WHEN o_totalprice < ${qs(1)} THEN 2
              |       WHEN o_totalprice < ${qs(2)} THEN 3
              |       ELSE 4 END AS band
              |FROM g36_src""".stripMargin)
      s.sql("CREATE TABLE graft_g36.gate.t (o_orderkey BIGINT, o_totalprice DOUBLE)")
      (1 to 4).foreach { b =>
        s.sql(s"""INSERT INTO graft_g36.gate.t
                 |SELECT o_orderkey, o_totalprice FROM g36_banded WHERE band = $b""".stripMargin)
      }
      s.sql("""SELECT CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
              |FROM graft_g36.gate.t
              |ORDER BY o_totalprice DESC LIMIT 10""".stripMargin)
    },

    // ---- format table: a raw csv directory registered as a
    // snapshot-less, read-only catalog table and queried next to real
    // graft tables (reference: paimon-core table/FormatTable.java:61).
    QDef(
      "g37_format_table",
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey > 700
        |GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      val csvDir = Files.createTempDirectory("graft-g37-csv").toString + "/orders"
      tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .write.option("header", "true").csv(csvDir)
      gateCatalog(s, "graft_g37", Seq("orders_csv"))
      s.sql(s"""CREATE TABLE graft_g37.gate.orders_csv
               |(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)
               |TBLPROPERTIES ('format'='csv',
               |  'format-table.path'='$csvDir',
               |  'format-table.option.header'='true')""".stripMargin)
      s.sql("""SELECT o_orderstatus, COUNT(*) AS n,
              |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
              |FROM graft_g37.gate.orders_csv WHERE o_orderkey > 700
              |GROUP BY o_orderstatus""".stripMargin)
    },

    // ---- range-bitmap file index: sorted-dictionary sidecars give
    // exact range refutation on STRING and TIMESTAMP columns — types
    // the bit-sliced index cannot encode — and conjuncts over two
    // indexed columns intersect row positions (reference: paimon-common
    // fileindex/rangebitmap/RangeBitmapFileIndex.java:43).
    QDef(
      "g38_range_bitmap_index",
      """SELECT o_orderkey, o_orderpriority
        |FROM orders
        |WHERE o_orderpriority >= '2' AND o_orderpriority <= '4'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "orders")
      val t = GraftTable.create(s, scratch("g38"), src.schema,
        options = Map(graft.core.RangeIndex.OptionColumns ->
          "o_orderpriority,o_orderdate"))
      // interleaved commits → every file spans the full priority and
      // date ranges, so only the dictionary index can skip files
      (0 until 4).foreach(i => t.write(src.filter(col("o_orderkey") % 4 === i)))
      t.scan(col("o_orderpriority") >= "2" && col("o_orderpriority") <= "4" &&
          col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1996-07-01 00:00:00").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderpriority"))
    },

    // ---- row tracking: every row carries a stable `_ROW_ID` (file
    // firstRowId + physical position, assigned at commit from the
    // snapshot's nextRowId counter); range predicates on it prune
    // files by their [firstRowId, firstRowId + rowCount) extent before
    // any is opened — a bounded slice of a 100 TB table touches only
    // the overlapping files (reference: paimon row tracking —
    // SpecialFields._ROW_ID, Snapshot.nextRowId, ReadBuilder row-range
    // reads). Three key-contiguous single-file commits make global
    // insertion order == ORDER BY o_orderkey, so the oracle can
    // reproduce the ids with row_number().
    QDef(
      "g39_row_ranges",
      """SELECT rowid, o_orderkey, o_orderstatus FROM (
        |  SELECT CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT) AS rowid,
        |         o_orderkey, o_orderstatus
        |  FROM orders)
        |WHERE rowid >= 100 AND rowid < 600""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"))
      // gateCatalog returns the warehouse the CACHED catalog actually
      // uses, so the direct GraftTable.load below stays consistent on
      // re-invocation
      val wh = gateCatalog(s, "graft_g39", Seq("orders_rt"))
      s.sql("""CREATE TABLE graft_g39.gate.orders_rt
              |(o_orderkey BIGINT, o_orderstatus STRING)
              |TBLPROPERTIES ('row-tracking.enabled'='true')""".stripMargin)
      val t = GraftTable.load(s, s"$wh/gate/orders_rt")
      val cnt = src.count()
      val sorted = src.orderBy("o_orderkey")
      val b1 = sorted.limit((cnt / 3).toInt).agg(max("o_orderkey")).head.getLong(0)
      val b2 = sorted.limit((2 * cnt / 3).toInt).agg(max("o_orderkey")).head.getLong(0)
      Seq(col("o_orderkey") <= b1,
          col("o_orderkey") > b1 && col("o_orderkey") <= b2,
          col("o_orderkey") > b2).foreach { c =>
        t.write(src.filter(c).coalesce(1).sortWithinPartitions("o_orderkey"))
      }
      s.sql("""SELECT _ROW_ID AS rowid, o_orderkey, o_orderstatus
              |FROM graft_g39.gate.orders_rt
              |WHERE _ROW_ID >= 100 AND _ROW_ID < 600""".stripMargin)
    },

    // ---- CDC ingestion: rowkind-labelled change batches (+I/+U/-U/-D)
    // applied to a PK table, the batch's shape driving schema evolution
    // — batch 2 introduces a `channel` column the way a CDC source adds
    // one mid-stream (reference: paimon-flink-cdc RichCdcRecord +
    // UpdatedDataFieldsProcessFunctionBase schema evolution). The final
    // state is pure SQL over the original rows: delete keys %11 (unless
    // %5 re-inserts them later), double price on %7, then %5 rows get
    // price+1 and channel='cdc'.
    QDef(
      "g40_cdc_ingest",
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1
        |       WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
        |       ELSE o_totalprice END AS price,
        |  o_orderstatus,
        |  CASE WHEN o_orderkey % 5 = 0 THEN 'cdc' ELSE NULL END AS channel
        |FROM orders
        |WHERE NOT (o_orderkey % 11 = 0 AND o_orderkey % 5 <> 0)""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice").as("price"), col("o_orderstatus"))
      val t = GraftTable.create(s, scratch("g40"), src.schema,
        primaryKeys = Seq("o_orderkey"))
      t.write(src)
      // batch 1: update pairs for %7 (price doubles), deletes for %11
      val b1 = src.filter(col("o_orderkey") % 7 === 0)
        .withColumn("_row_kind", lit("-U"))
        .unionAll(src.filter(col("o_orderkey") % 7 === 0)
          .withColumn("price", col("price") * 2)
          .withColumn("_row_kind", lit("+U")))
        .unionAll(src.filter(col("o_orderkey") % 11 === 0)
          .withColumn("_row_kind", lit("-D")))
      t.applyChanges(b1)
      // batch 2 evolves the schema: a new `channel` column arrives
      val b2 = src.filter(col("o_orderkey") % 5 === 0)
        .withColumn("price", col("price") + 1)
        .withColumn("channel", lit("cdc"))
        .withColumn("_row_kind", lit("+U"))
      t.applyChanges(b2)
      t.read.select(col("o_orderkey"), col("price"), col("o_orderstatus"), col("channel"))
    },

    // ---- postpone bucket (bucket = -2): writes stage with ZERO
    // shuffle and stay invisible until the dedicated compaction
    // hash-assigns real buckets. The read must see exactly the
    // compacted batches — the post-compact staged batch contributes
    // nothing (reference: postpone/PostponeBucketWriter.java:55,
    // PostponeUtils.java:34).
    QDef(
      "g41_postpone_bucket",
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(ROUND(CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 3
        |                  ELSE o_totalprice END, 2) AS DOUBLE) AS totalprice
        |FROM orders WHERE o_orderkey % 3 <> 2""".stripMargin) { (s, dir) =>
      val (t, src) = ordersTable(s, dir,
        options = Map("bucket" -> "-2", "postpone.default-bucket-num" -> "8"),
        primaryKeys = Seq("o_orderkey"))
      t.write(src.filter(col("o_orderkey") % 3 === 0))
      t.write(src.filter(col("o_orderkey") % 3 === 1))
      // update wave over the staged data: later seq wins at merge
      t.write(src
        .filter(col("o_orderkey") % 3 =!= 2 && col("o_orderkey") % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 3))
      t.compact() // bucket assignment: the three batches become visible
      // staged after the compact — must NOT appear in the read
      t.write(src.filter(col("o_orderkey") % 3 === 2))
      t.read.select(col("o_orderkey"), col("o_orderstatus"),
        asDouble(col("o_totalprice")).as("totalprice"))
    },

    // ---- row tracking × deletion vectors: DV deletes punch holes
    // through a row-range read without shifting a single survivor's
    // _ROW_ID, retired ids are never reused, and a late append
    // continues the id counter past them. Ids are reproducible in SQL
    // because the three base commits are key-contiguous single files
    // (the g39 construction: global insertion order == ORDER BY
    // o_orderkey) and the appended batch is one sorted file starting
    // at nextRowId = COUNT(*) (reference: paimon row tracking —
    // DataFileMeta.firstRowId + deletion-vectors semantics: positions
    // never shift, ids of deleted rows retire).
    QDef(
      "g42_rowid_dv_ranges",
      """WITH base AS (
        |  SELECT CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT) AS rowid,
        |         o_orderkey, o_orderstatus
        |  FROM orders),
        |extra AS (
        |  SELECT CAST((SELECT COUNT(*) FROM orders)
        |           + row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT) AS rowid,
        |         CAST(o_orderkey + 10000000 AS BIGINT) AS o_orderkey, o_orderstatus
        |  FROM orders WHERE o_orderkey % 17 = 0),
        |live AS (
        |  SELECT * FROM base WHERE o_orderkey % 13 <> 0
        |  UNION ALL SELECT * FROM extra)
        |SELECT rowid, o_orderkey, o_orderstatus FROM live
        |WHERE rowid >= 100
        |  AND rowid < (SELECT COUNT(*) FROM orders) + 50""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"))
      val t = GraftTable.create(s, scratch("g42"), src.schema,
        options = Map(GraftTable.RowTrackingEnabled -> "true",
          "deletion-vectors.enabled" -> "true"))
      val cnt = src.count()
      val sorted = src.orderBy("o_orderkey")
      val b1 = sorted.limit((cnt / 3).toInt).agg(max("o_orderkey")).head.getLong(0)
      val b2 = sorted.limit((2 * cnt / 3).toInt).agg(max("o_orderkey")).head.getLong(0)
      Seq(col("o_orderkey") <= b1,
          col("o_orderkey") > b1 && col("o_orderkey") <= b2,
          col("o_orderkey") > b2).foreach { c =>
        t.write(src.filter(c).coalesce(1).sortWithinPartitions("o_orderkey"))
      }
      // DV deletes: every 13th key's id retires, survivors keep theirs
      t.delete(col("o_orderkey") % 13 === 0)
      // late append: ids continue at nextRowId == cnt, keys offset to
      // stay disjoint from the base key space
      t.write(src.filter(col("o_orderkey") % 17 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"), col("o_orderstatus"))
        .coalesce(1).sortWithinPartitions("o_orderkey"))
      t.readRowRange(100L, cnt + 50L)
        .select(col(GraftTable.RowIdCol).as("rowid"),
          col("o_orderkey"), col("o_orderstatus"))
    },

    // ---- Iceberg-compatible metadata export: sync writes a
    // format-version-2 metadata tree (metadata json + avro manifest
    // list + avro manifest) next to the UNCOPIED data files; the gate
    // then re-reads the table the way an external Iceberg reader
    // would — version-hint → metadata json → manifest list → manifest
    // → parquet — using generic avro/json parsing, none of graft's own
    // snapshot machinery. A PK table must expose its merged,
    // tombstone-free compacted state (reference:
    // IcebergCommitCallback.java:102, maxLevel-only exposure
    // :734-741). The upsert wave proves merged-state exposure, not
    // raw-file concatenation.
    QDef(
      "g44_iceberg_compat",
      """SELECT o_orderkey,
        |  CAST(ROUND(CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice * 2
        |                  ELSE o_totalprice END, 2) AS DOUBLE) AS price,
        |  o_orderstatus
        |FROM orders""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice").as("price"), col("o_orderstatus"))
      val t = GraftTable.create(s, scratch("g44"), src.schema,
        primaryKeys = Seq("o_orderkey"), options = Map("bucket" -> "4"))
      t.write(src)
      t.write(src.filter(col("o_orderkey") % 4 === 0)
        .withColumn("price", col("price") * 2)) // upsert wave
      t.compact()
      graft.sources.IcebergCompat.sync(t)
      val files = graft.sources.IcebergCompat.externalDataFiles(t.path)
      s.read.parquet(files: _*)
        .select(col("o_orderkey"), asDouble(col("price")).as("price"),
          col("o_orderstatus"))
    },

    // ---- full-text inverted index (reference capability:
    // paimon-lucene / globalindex text search): rebuild tokenizes the
    // column into a token→file posting table, searchText prunes files
    // through it and applies the real whole-token filter — the index
    // only prunes, so the oracle is the plain tokenized predicate and
    // any wrong prune (dropped file) or stale posting shows up as a
    // row diff.
    QDef(
      "g50_text_search",
      """SELECT doc_id, lang FROM documents
        |WHERE list_contains(regexp_split_to_array(text, '[^A-Za-z0-9]+'), 'data')""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val t = GraftTable.create(s, scratch("g50"), src.schema)
      t.write(src.repartition(8)) // several files → pruning is real
      t.rebuildTextIndex("text")
      t.searchText("text", "data").select(col("doc_id"), col("lang"))
    },

    // ---- Iceberg export × deletion vectors: DV'd files export
    // together with v2 position-delete files (one Avro of
    // (file_path, pos) per DV sidecar, content=deletes manifest), so
    // an external Iceberg reader reproduces the post-delete state
    // WITHOUT compaction — the reference writes the same shape
    // (IcebergCommitCallback.java:455-473 createForDeleteFile). The
    // walk uses only generic avro/json readers + a vanilla parquet
    // scan with the standard (file, pos) anti-join; two delete waves
    // prove merged-DV export (the second wave unions into the first
    // file's bitmap).
    QDef(
      "g46_iceberg_dv",
      """SELECT o_orderkey,
        |  CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price, o_orderstatus
        |FROM orders
        |WHERE o_orderkey % 13 <> 0 AND o_orderkey % 17 <> 0""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice").as("price"), col("o_orderstatus"))
      val t = GraftTable.create(s, scratch("g46"), src.schema,
        options = Map("deletion-vectors.enabled" -> "true"))
      val cnt = src.count()
      val sorted = src.orderBy("o_orderkey")
      val b1 = sorted.limit((cnt / 2).toInt).agg(max("o_orderkey")).head.getLong(0)
      Seq(col("o_orderkey") <= b1, col("o_orderkey") > b1).foreach { c =>
        t.write(src.filter(c).coalesce(1))
      }
      t.delete(col("o_orderkey") % 13 === 0)
      t.delete(col("o_orderkey") % 17 === 0) // DV growth: bitmaps union
      graft.sources.IcebergCompat.sync(t)
      graft.sources.IcebergCompat.externalRead(s, t.path)
        .select(col("o_orderkey"), asDouble(col("price")).as("price"),
          col("o_orderstatus"))
    },

    // ---- CDC wire-format ingestion: raw Debezium JSON envelopes
    // (snapshot reads "r", update pairs "u" with before/after images,
    // before-only deletes "d") are parsed with inferred schema and
    // applied through applyChanges — the format half of the
    // reference's CDC connectors (paimon-flink-cdc debezium parser);
    // the Kafka transport stays out of scope. The final state is pure
    // SQL over the source rows.
    QDef(
      "g45_cdc_debezium",
      """SELECT o_orderkey,
        |  CAST(ROUND(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
        |                  ELSE o_totalprice END, 2) AS DOUBLE) AS price,
        |  o_orderstatus
        |FROM orders WHERE o_orderkey % 11 <> 0""".stripMargin) { (s, dir) =>
      import graft.streaming.CdcFormats
      val src = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice").as("price"), col("o_orderstatus"))
      val t = GraftTable.create(s, scratch("g45"), src.schema,
        primaryKeys = Seq("o_orderkey"))
      def img(price: org.apache.spark.sql.Column) =
        struct(col("o_orderkey"), price.as("price"), col("o_orderstatus"))
      // epoch 1: the initial snapshot arrives as Debezium "r" reads
      t.applyChanges(CdcFormats.debeziumJson(src.select(
        to_json(struct(img(col("price")).as("after"), lit("r").as("op"))).as("value"))))
      // epoch 2: update wave — full before/after envelopes
      t.applyChanges(CdcFormats.debeziumJson(src
        .filter(col("o_orderkey") % 7 === 0)
        .select(to_json(struct(
          img(col("price")).as("before"),
          img(col("price") * 2).as("after"),
          lit("u").as("op"))).as("value"))))
      // epoch 3: deletes — before-image only, as Debezium emits them
      t.applyChanges(CdcFormats.debeziumJson(src
        .filter(col("o_orderkey") % 11 === 0)
        .select(to_json(struct(
          img(col("price")).as("before"), lit("d").as("op"))).as("value"))))
      t.read.select(col("o_orderkey"), asDouble(col("price")).as("price"),
        col("o_orderstatus"))
    },

    // ---- Canal JSON ingestion: `data` is an ARRAY of row objects per
    // message (here ~50 rows/message via a grouping key, exercising
    // the explode), UPDATE carries the full after-image in `data`
    // (canal's `old` holds only changed columns — no complete
    // before-image exists, so none is emitted), DELETE carries the
    // deleted rows. Same applyChanges sink as g45 (reference:
    // paimon-flink-cdc canal parser).
    QDef(
      "g47_cdc_canal",
      """SELECT o_orderkey,
        |  CAST(ROUND(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
        |                  ELSE o_totalprice END, 2) AS DOUBLE) AS price,
        |  o_orderstatus
        |FROM orders WHERE o_orderkey % 11 <> 0""".stripMargin) { (s, dir) =>
      import graft.streaming.CdcFormats
      val src = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice").as("price"), col("o_orderstatus"))
      val t = GraftTable.create(s, scratch("g47"), src.schema,
        primaryKeys = Seq("o_orderkey"))
      def msgs(rows: DataFrame, typ: String) = rows
        .groupBy(pmod(col("o_orderkey"), lit(50L)).as("__g"))
        .agg(collect_list(struct(col("o_orderkey"), col("price"),
          col("o_orderstatus"))).as("data"))
        .select(to_json(struct(col("data"), lit(typ).as("type"))).as("value"))
      t.applyChanges(CdcFormats.canalJson(msgs(src, "INSERT")))
      t.applyChanges(CdcFormats.canalJson(msgs(
        src.filter(col("o_orderkey") % 7 === 0)
          .withColumn("price", col("price") * 2), "UPDATE")))
      t.applyChanges(CdcFormats.canalJson(msgs(
        src.filter(col("o_orderkey") % 11 === 0), "DELETE")))
      t.read.select(col("o_orderkey"), asDouble(col("price")).as("price"),
        col("o_orderstatus"))
    },

    // ---- Maxwell JSON ingestion: one row object per message in
    // `data`, lowercase insert/update/delete types (reference:
    // paimon-flink-cdc maxwell parser).
    QDef(
      "g48_cdc_maxwell",
      """SELECT o_orderkey,
        |  CAST(ROUND(CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 3
        |                  ELSE o_totalprice END, 2) AS DOUBLE) AS price,
        |  o_orderstatus
        |FROM orders WHERE o_orderkey % 9 <> 0""".stripMargin) { (s, dir) =>
      import graft.streaming.CdcFormats
      val src = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice").as("price"), col("o_orderstatus"))
      val t = GraftTable.create(s, scratch("g48"), src.schema,
        primaryKeys = Seq("o_orderkey"))
      def msgs(rows: DataFrame, typ: String) = rows.select(to_json(struct(
        struct(col("o_orderkey"), col("price"), col("o_orderstatus")).as("data"),
        lit(typ).as("type"))).as("value"))
      t.applyChanges(CdcFormats.maxwellJson(msgs(src, "insert")))
      t.applyChanges(CdcFormats.maxwellJson(msgs(
        src.filter(col("o_orderkey") % 5 === 0)
          .withColumn("price", col("price") * 3), "update")))
      t.applyChanges(CdcFormats.maxwellJson(msgs(
        src.filter(col("o_orderkey") % 9 === 0), "delete")))
      t.read.select(col("o_orderkey"), asDouble(col("price")).as("price"),
        col("o_orderstatus"))
    },

    // ---- catalog-stored views: CREATE VIEW + nested view + aggregate
    // through the view, resolved by the GraftExtensions analyzer rule
    // (reference: SupportView + PaimonViewResolver). The gate proves
    // the stored-SQL → re-parse → frozen-schema path end-to-end.
    QDef(
      "g51_views",
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      withGraftExtensions(s) { s2 =>
        val wh = Files.createTempDirectory("graft-g51-wh").toString
        s2.conf.set("spark.sql.catalog.g51", "graft.sources.GraftCatalog")
        s2.conf.set("spark.sql.catalog.g51.warehouse", wh)
        tbl(s2, dir, "orders").createOrReplaceTempView("g51_src")
        s2.sql("CREATE NAMESPACE IF NOT EXISTS g51.gate")
        s2.sql("""CREATE TABLE g51.gate.orders
                 |(o_orderkey BIGINT, o_orderstatus STRING,
                 | o_totalprice DOUBLE, o_orderpriority STRING)""".stripMargin)
        s2.sql("""INSERT INTO g51.gate.orders
                 |SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
                 |FROM g51_src""".stripMargin)
        s2.sql("""CREATE VIEW g51.gate.urgent AS
                 |SELECT o_orderstatus, o_totalprice FROM g51.gate.orders
                 |WHERE o_orderpriority = '1-URGENT'""".stripMargin)
        s2.sql("""CREATE VIEW g51.gate.urgent_sum AS
                 |SELECT o_orderstatus, COUNT(*) AS n,
                 |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
                 |FROM g51.gate.urgent GROUP BY o_orderstatus""".stripMargin)
        s2.sql("SELECT o_orderstatus, n, total FROM g51.gate.urgent_sum")
      }
    },

    // ---- clone + purge lifecycle: copy_files must produce an
    // independent table (survives purging the source), purge_files must
    // leave a writable empty definition (reference: CopyFilesProcedure
    // + PurgeFilesProcedure).
    QDef(
      "g52_purge_clone",
      """SELECT o_orderkey AS k, CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price,
        |  'clone' AS src
        |FROM orders WHERE o_orderkey % 4 = 0
        |UNION ALL
        |SELECT c_custkey AS k, CAST(ROUND(c_acctbal, 2) AS DOUBLE) AS price,
        |  'fresh' AS src
        |FROM customer WHERE c_custkey % 3 = 0""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "orders").filter(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
      val t = GraftTable.create(s, scratch("g52"), src.schema,
        options = Map("bucket" -> "2"))
      t.write(src)
      t.createTag("pre-clone")
      val clone = t.cloneTo(scratch("g52c"))
      t.purgeFiles()
      val fresh = tbl(s, dir, "customer").filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("k"), col("c_acctbal").as("price"))
      t.write(fresh)
      clone.read.select(col("k"), asDouble(col("price")).as("price"),
          lit("clone").as("src"))
        .unionByName(t.read.select(col("k"), asDouble(col("price")).as("price"),
          lit("fresh").as("src")))
    },

    // ---- automatic watermark tags: three event-time epochs advance
    // the watermark across period boundaries; the per-commit hook tags
    // each crossed day, and reading the middle tag reproduces exactly
    // the first two epochs (reference: TagAutoCreation, watermark
    // extractor).
    QDef(
      "g53_tag_auto",
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS total
        |FROM events
        |WHERE ts < (SELECT date_trunc('day', min(ts)) + INTERVAL 20 DAY FROM events)
        |GROUP BY user_id""".stripMargin) { (s, dir) =>
      val ev0 = tbl(s, dir, "events")
      val ev = ev0.withColumn("tmicros", eventMicros(ev0))
        .select(col("event_id"), col("user_id"), col("value"), col("tmicros"))
      val dayUs = 86400000000L
      val minMicros = ev.agg(min(col("tmicros"))).head.getLong(0)
      val day0 = minMicros - java.lang.Math.floorMod(minMicros, dayUs)
      val (cut1, cut2) = (day0 + 10 * dayUs, day0 + 20 * dayUs)
      val t = GraftTable.create(s, scratch("g53"), ev.schema, options = Map(
        GraftTable.TagAutoMode -> "watermark",
        "tag.creation-period" -> "daily"))
      def epoch(f: org.apache.spark.sql.Column): Unit = {
        val part = ev.filter(f)
        val wm = part.agg(max(col("tmicros"))).head.getLong(0) / 1000L
        t.writeWatermarked(part, commitIdentifier = -1L, watermark = Some(wm))
      }
      epoch(col("tmicros") < cut1)
      epoch(col("tmicros") >= cut1 && col("tmicros") < cut2)
      epoch(col("tmicros") >= cut2)
      val tags = t.sm.tags.keys.toSeq.sorted
      require(tags.size == 3, s"expected 3 auto tags, got $tags")
      t.readTag(tags(1)) // epochs 1+2 = everything before cut2
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec4(col("value"))), 4).as("total"))
    },

    // ---- SQL partition management: ALTER TABLE DROP PARTITION is a
    // metadata-only whole-partition drop; the surviving rows must be
    // exactly the other partitions (reference:
    // PaimonPartitionManagement.dropPartitions).
    QDef(
      "g54_drop_partition",
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
        |FROM orders WHERE o_orderstatus <> 'F'""".stripMargin) { (s, dir) =>
      gateCatalog(s, "g54", Seq("orders"))
      tbl(s, dir, "orders").createOrReplaceTempView("g54_src")
      s.sql("""CREATE TABLE g54.gate.orders
              |(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)
              |PARTITIONED BY (o_orderstatus)""".stripMargin)
      s.sql("""INSERT INTO g54.gate.orders
              |SELECT o_orderkey, o_orderstatus, o_totalprice FROM g54_src""".stripMargin)
      s.sql("ALTER TABLE g54.gate.orders DROP PARTITION (o_orderstatus='F')")
      s.sql("""SELECT o_orderkey, o_orderstatus,
              |  CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
              |FROM g54.gate.orders""".stripMargin)
    },

    // ---- read-optimized table: after a full compaction $ro serves the
    // complete merged state from level 1 only — identical answers,
    // zero merge debt (reference: ReadOptimizedTable).
    QDef(
      "g55_read_optimized",
      """SELECT o_orderkey,
        |  CAST(ROUND(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2
        |                  ELSE o_totalprice END, 2) AS DOUBLE) AS price
        |FROM orders""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice").as("price"))
      val t = GraftTable.create(s, scratch("g55"), src.schema,
        primaryKeys = Seq("o_orderkey"), options = Map("bucket" -> "4"))
      t.write(src)
      t.write(src.filter(col("o_orderkey") % 3 === 0)
        .withColumn("price", col("price") * 2))
      t.compact()
      t.systemReadOptimized
        .select(col("o_orderkey"), asDouble(col("price")).as("price"))
    },

    // ---- full-text boolean OR (Lucene disjunction counterpart): the
    // candidate set unions the per-token postings — 'dup' is rare
    // (~5% of docs) so a wrong union (intersection, or a dropped
    // posting) shifts the row count and fails the hash.
    QDef(
      "g56_text_search_any",
      """SELECT doc_id, lang FROM documents
        |WHERE list_contains(regexp_split_to_array(text, '[^A-Za-z0-9]+'), 'dup')
        |   OR list_contains(regexp_split_to_array(text, '[^A-Za-z0-9]+'), 'vector')""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val t = GraftTable.create(s, scratch("g56"), src.schema)
      t.write(src.repartition(8))
      t.rebuildTextIndex("text")
      t.searchTextAny("text", Seq("dup", "vector")).select(col("doc_id"), col("lang"))
    },

    // ---- full-text phrase query: AND-prune through the postings,
    // then a positional adjacency verify (anchored regex) — the
    // positions-free inverted-index phrase plan. The oracle is the
    // same adjacency regex in DuckDB, so a candidate that merely
    // contains both words NON-adjacently would fail the hash.
    QDef(
      "g57_text_search_phrase",
      """SELECT doc_id, lang FROM documents
        |WHERE regexp_matches(text, '(^|[^A-Za-z0-9])table[^A-Za-z0-9]+hash([^A-Za-z0-9]|$)')""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val t = GraftTable.create(s, scratch("g57"), src.schema)
      t.write(src.repartition(8))
      t.rebuildTextIndex("text")
      t.searchTextPhrase("text", Seq("table", "hash")).select(col("doc_id"), col("lang"))
    },

    // ---- concurrent writers: 4 threads upsert DISJOINT key residues
    // into one PK table at once — the CAS commit loop must serialize
    // them with zero lost updates (reference:
    // FileStoreCommitImpl.java:114-126 tryCommit retry loop). The
    // final state is deterministic because each key is written by
    // exactly one thread, so the oracle is plain SQL; any lost or
    // doubled commit shifts the hash. The gate also asserts the
    // snapshot history is gapless — a CAS bug that skipped or reused
    // an id would corrupt incremental readers.
    QDef(
      "g59_concurrent_writers",
      """SELECT o_orderkey,
        |  CAST(ROUND(o_totalprice * (1 + o_orderkey % 4), 2) AS DOUBLE) AS price
        |FROM orders""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice").as("price"))
      val t = GraftTable.create(s, scratch("g59"), src.schema,
        primaryKeys = Seq("o_orderkey"), options = Map("bucket" -> "4"))
      t.write(src) // seed: every key present, then racing upserts win
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 4).map { i =>
        new Thread(() => {
          try t.write(src.filter(col("o_orderkey") % 4 === i)
            .withColumn("price", col("price") * (1 + i)))
          catch { case e: Throwable => errors.add(e) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      if (!errors.isEmpty)
        throw new IllegalStateException(s"concurrent writes failed: ${errors.peek}")
      val ids = t.sm.snapshotIds
      require(ids == (0L until 5L), s"history not linear: $ids")
      t.read.select(col("o_orderkey"), asDouble(col("price")).as("price"))
    },

    // ---- column default values (reference: DataField.defaultValue +
    // DefaultValueRow — write-time substitution of nulls): a batch
    // with injected nulls lands with the declared defaults; non-null
    // values pass through untouched. The oracle is the same CASE
    // substitution in SQL.
    QDef(
      "g61_column_defaults",
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 3 = 0 THEN 'unknown' ELSE o_orderstatus END AS status,
        |  CAST(ROUND(CASE WHEN o_orderkey % 5 = 0 THEN -1.0
        |                  ELSE o_totalprice END, 2) AS DOUBLE) AS price
        |FROM orders""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_orderkey") % 3 === 0, lit(null)).otherwise(col("o_orderstatus"))
          .as("status"),
        when(col("o_orderkey") % 5 === 0, lit(null)).otherwise(col("o_totalprice"))
          .as("price"))
      val t = GraftTable.create(s, scratch("g61"), src.schema,
        primaryKeys = Seq("o_orderkey"),
        options = Map(
          "fields.status.default-value" -> "unknown",
          "fields.price.default-value" -> "-1.0",
          "bucket" -> "4"))
      t.write(src)
      t.read.select(col("o_orderkey"), col("status"),
        asDouble(col("price")).as("price"))
    },

    // ---- data evolution (reference: DATA_EVOLUTION_ENABLED +
    // DataEvolutionSplitRead): a column backfill lands as patch files
    // overlaid at read — ZERO data files rewritten. The table loads
    // sorted single-partition so _ROW_ID = rank(o_orderkey)-1; the
    // 1000 lowest-ranked rows get price := o_orderkey * 2, which the
    // oracle recomputes via the same rank. A lost overlay, a wrong
    // row-id join, or a stale stats prune on the patched column all
    // shift the hash.
    QDef(
      "g62_data_evolution",
      """WITH ranked AS (SELECT o_orderkey, o_totalprice,
        |    row_number() OVER (ORDER BY o_orderkey) - 1 AS rid FROM orders)
        |SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |  CAST(ROUND(CASE WHEN rid < 1000 THEN o_orderkey * 2.0
        |                  ELSE o_totalprice END, 2) AS DOUBLE) AS price
        |FROM ranked""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice").as("price"))
        .orderBy("o_orderkey").coalesce(1)
      val t = GraftTable.create(s, scratch("g62"),
        src.schema, options = Map("row-tracking.enabled" -> "true"))
      t.write(src)
      val patch = t.readWithRowIds()
        .filter(col(GraftTable.RowIdCol) < 1000)
        .select(col(GraftTable.RowIdCol),
          (col("o_orderkey") * 2.0).as("price"))
      t.patchColumn("price", patch)
      t.read.select(col("o_orderkey"), asDouble(col("price")).as("price"))
    },

    // ---- CHAR(n)/VARCHAR(n) semantics (reference: paimon-api
    // CharType/VarCharType): length-constrained columns store plain
    // strings; CHAR right-pads to exactly n at write, VARCHAR passes
    // through (over-length rejects — spec-covered). The oracle applies
    // the same rpad.
    QDef(
      "g63_char_varchar",
      """SELECT o_orderkey, rpad(o_orderstatus, 4, ' ') AS status,
        |  o_orderpriority AS priority,
        |  CAST(4 AS INT) AS status_len
        |FROM orders""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val src = tbl(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"))
      val t = GraftTable.create(s, scratch("g63"), StructType(Seq(
        StructField("o_orderkey", LongType, nullable = false),
        StructField("status", CharType(4), nullable = true),
        StructField("priority", VarcharType(15), nullable = true))),
        primaryKeys = Seq("o_orderkey"), options = Map("bucket" -> "4"))
      t.write(src)
      t.read.select(col("o_orderkey"), col("status"), col("priority"),
        length(col("status")).as("status_len"))
    },

    // ---- MULTISET<T> (reference: paimon-api MultisetType, stored as
    // MAP<T, INT> per SURVEY §1.2): a token-multiplicity column built
    // from whitespace tokens round-trips through the table and explodes
    // back to (token, count) rows the oracle recomputes directly.
    QDef(
      "g64_multiset",
      """SELECT doc_id, token, CAST(COUNT(*) AS INT) AS n
        |FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |      FROM documents WHERE length(trim(text)) > 0)
        |GROUP BY doc_id, token""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val src = tbl(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          graft.functions.TableFunctions.multiset(
            split(trim(lower(col("text"))), graft.operators.TextAnalysis.WsClass)).as("tokens"))
      val msField = StructField("tokens",
        MapType(StringType, IntegerType, valueContainsNull = false),
        nullable = true,
        new MetadataBuilder().putBoolean(graft.core.Meta.MultisetMeta, true).build())
      val t = GraftTable.create(s, scratch("g64"), StructType(Seq(
        StructField("doc_id", LongType, nullable = false), msField)))
      t.write(src)
      // stored as a graft-level MULTISET (DDL assertion is the point:
      // a plain MAP write would silently lose the declared type)
      require(t.schema.fields.exists(f =>
        f.name == "tokens" && f.dataType.toUpperCase.startsWith("MULTISET<")),
        s"multiset DDL lost: ${t.schema.fields}")
      t.read.select(col("doc_id"), explode(col("tokens")).as(Seq("token", "n")))
    },

    // ---- Hive Metastore catalog bridge (reference: paimon-hive
    // HiveCatalog.java:132): a graft table living OUTSIDE the catalog
    // warehouse is registered in a real (embedded Derby) metastore by
    // path, and the query resolves the identifier READ-THROUGH the
    // HMS entry — the brownfield shape where an existing Hive estate
    // points at graft tables. A broken mirror or resolution path
    // yields no table at all; value mangling shifts the hash.
    QDef(
      "g65_hms_catalog",
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
        |FROM orders WHERE o_orderkey % 7 = 0""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val ext = Files.createTempDirectory("graft-g65-ext").toString + "/orders_ext"
      val gt = GraftTable.create(s, ext, src.schema)
      gt.write(src)
      val hms = Files.createTempDirectory("graft-g65-hms").toString
      val wh = Files.createTempDirectory("graft-g65-wh").toString
      val opts = Map("hms.local-dir" -> hms)
      graft.sources.HmsBridge.ensureDatabase(opts, "bridged")
      graft.sources.HmsBridge.mirrorCreate(opts, "bridged", "orders_ext", gt)
      s.conf.set("spark.sql.catalog.graft_g65", "graft.sources.GraftHmsCatalog")
      s.conf.set("spark.sql.catalog.graft_g65.warehouse", wh)
      s.conf.set("spark.sql.catalog.graft_g65.hms.local-dir", hms)
      s.sql("""SELECT o_orderkey, o_orderstatus,
              |  CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
              |FROM graft_g65.bridged.orders_ext
              |WHERE o_orderkey % 7 = 0""".stripMargin)
    },

    // ---- networked KV lookup service (reference: paimon-service
    // KvQueryServer + RemoteTableQuery): every key in the probe set is
    // fetched over HTTP through the driver-local zero-job read path,
    // and the reassembled rows must hash-match the plain SQL
    // selection — a wrong bucket prune, a stale merge, or a type
    // mangling in the JSON transport all shift the hash.
    QDef(
      "g60_lookup_service",
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey % 101 = 7""".stripMargin) { (s, dir) =>
      val cust = tbl(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val wh = Files.createTempDirectory("graft-g60-wh").toString
      val t = GraftTable.create(s, s"$wh/db/customer", cust.schema,
        primaryKeys = Seq("c_custkey"), options = Map("bucket" -> "8"))
      t.write(cust)
      val keys = cust.filter(col("c_custkey") % 101 === 7)
        .select("c_custkey").collect().map(_.getLong(0)).sorted
      val server = graft.sources.GraftLookupService.start(wh, token = "g60")
      try {
        val rows = keys.flatMap { k =>
          graft.sources.GraftLookupClient.lookup(
            server.uri, "g60", "db", "customer",
            Map("c_custkey" -> k.toString))
        }.map(m => (m("c_custkey").toString.toLong,
          m("c_name").toString, m("c_mktsegment").toString))
        import s.implicits._
        rows.toSeq.toDF("c_custkey", "c_name", "c_mktsegment")
      } finally server.stop()
    },

    // ---- lance-equivalent random-access columnar storage
    // (file.format=lance; reference: paimon-lance
    // LanceFileFormat.java:57 over the native lancedb JNI — here a
    // JVM re-expression of the capability, like the engine's
    // faiss/lucene stand-ins): the embeddings table, ARRAY<FLOAT>
    // column included, written as chunked lance files across two
    // commits and read back through a footer-stats-pruned scan. A
    // broken chunk encode/decode, footer stat, or null bitmap all
    // shift the hash; LanceFormatSpec separately bounds the
    // random-access `take` path's block IO.
    QDef(
      "g66_lance_format",
      """SELECT vec_id, label,
        |  CAST(embedding[1] AS DOUBLE) AS e0,
        |  CAST(len(embedding) AS BIGINT) AS dim
        |FROM embeddings WHERE vec_id % 3 <> 1 AND vec_id > 120""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "embeddings")
      val t = GraftTable.create(s, scratch("g66"), src.schema,
        options = Map("file.format" -> "lance"))
      t.write(src.filter(col("vec_id") % 3 === 0))
      t.write(src.filter(col("vec_id") % 3 === 2))
      t.scan(col("vec_id") > 120L)
        .select(col("vec_id"), col("label"),
          element_at(col("embedding"), 1).cast("double").as("e0"),
          size(col("embedding")).cast("bigint").as("dim"))
    },

    // ---- Hudi COW migration: a synthetic Hudi timeline + file-group
    // layout built from `orders` — one file group carries a STALE
    // older version (poisoned prices) and one base file belongs to an
    // INFLIGHT instant (extra keys); the migrated table hash-matches
    // the oracle only if latest-completed-per-group selection is
    // right on both counts (reference: HudiFileIndex
    // getLatestBaseFiles over completed instants).
    QDef(
      "g67_hudi_migrate",
      """SELECT o_orderkey AS k, o_orderstatus AS st,
        |  CAST(ROUND(o_totalprice, 2) AS DOUBLE) AS price
        |FROM orders WHERE o_orderkey % 3 = 0""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "orders").filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
          round(col("o_totalprice"), 2).cast("double").as("price"))
      val root = java.nio.file.Paths.get(scratch("g67src")).getParent
      val hoodie = root.resolve(".hoodie")
      java.nio.file.Files.createDirectories(hoodie)
      java.nio.file.Files.write(hoodie.resolve("hoodie.properties"),
        "hoodie.table.type=COPY_ON_WRITE\n".getBytes)
      Seq("20240101000000.commit", "20240102000000.commit").foreach(n =>
        java.nio.file.Files.write(hoodie.resolve(n), Array.emptyByteArray))
      def writeOne(df: DataFrame, rel: String): Unit = {
        val tmpd = scratch("g67one")
        df.coalesce(1).write.parquet(tmpd)
        val part = graft.core.FsUtil.walkAll(java.nio.file.Paths.get(tmpd))
          .find(p => p.toString.endsWith(".parquet") &&
            java.nio.file.Files.isRegularFile(p)).get
        val dst = root.resolve(rel)
        java.nio.file.Files.createDirectories(dst.getParent)
        java.nio.file.Files.move(part, dst)
      }
      src.select(col("st")).distinct().collect().map(_.getString(0)).sorted
        .zipWithIndex.foreach { case (status, i) =>
          val slice = src.filter(col("st") === status).drop("st")
          // stale older version of the same file group: poisoned data
          writeOne(slice.withColumn("price", lit(-1.0)),
            s"st=$status/fg$i-0_1-0-1_20240101000000.parquet")
          writeOne(slice, s"st=$status/fg$i-0_1-0-2_20240102000000.parquet")
        }
      // inflight instant (no completed .commit): must be skipped
      writeOne(src.limit(5).drop("st").withColumn("k", col("k") + 1000000L),
        s"st=O/fgx-0_1-0-1_20240103000000.parquet")
      val t = GraftTable.migrateHudi(s, root.toString, scratch("g67"))
      t.read.select(col("k"), col("st"), asDouble(col("price")).as("price"))
    },

    // ---- JDBC catalog: DDL mirrored into a real embedded-Derby
    // registry (reference: jdbc/JdbcCatalog) — the table is created
    // and written through one catalog handle, REGISTERED out-of-band
    // at an external path, then read through the registry's
    // read-through resolution; a broken registry write, path
    // resolution, or lock serialization surfaces as a wrong hash.
    QDef(
      "g68_jdbc_catalog",
      """SELECT c_custkey, c_mktsegment,
        |  CAST(ROUND(c_acctbal, 2) AS DOUBLE) AS bal
        |FROM customer WHERE c_custkey % 5 = 0""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "customer").filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal"), 2).cast("double").as("bal"))
      val ext = Files.createTempDirectory("graft-g68-ext").toString + "/cust_ext"
      val gt = GraftTable.create(s, ext, src.schema)
      gt.write(src)
      val wh = Files.createTempDirectory("graft-g68-wh").toString
      val uri = s"jdbc:derby:${Files.createTempDirectory("graft-g68-db")}/cat;create=true"
      graft.sources.JdbcBridge.init(uri)
      graft.sources.JdbcBridge.registerTable(uri, "graft", "reg", "cust_ext", ext)
      s.conf.set("spark.sql.catalog.graft_g68", "graft.sources.GraftJdbcCatalog")
      s.conf.set("spark.sql.catalog.graft_g68.warehouse", wh)
      s.conf.set("spark.sql.catalog.graft_g68.uri", uri)
      s.sql("""SELECT c_custkey, c_mktsegment, bal
              |FROM graft_g68.reg.cust_ext""".stripMargin)
    },

    // ---- metadata.stats-mode: manifests store BOUNDED stats (text
    // truncated to 8 code points with a rounded-up max, source kept as
    // null counts only). The range predicate exercises pruning against
    // the truncated bounds across many files; the oracle recomputes
    // from raw parquet, so any wrong prune (a file refuted by an
    // unsound bound) is a row diff. DuckDB and Spark both compare
    // strings in binary (UTF-8 byte) order, so the range agrees.
    QDef(
      "g69_stats_mode",
      """SELECT doc_id, source FROM documents
        |WHERE text >= 'm' AND text < 'w' AND doc_id % 3 = 0""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val t = GraftTable.create(s, scratch("g69"), src.schema,
        options = Map(
          "fields.text.stats-mode" -> "truncate(8)",
          "fields.source.stats-mode" -> "counts"))
      t.write(src.repartition(8)) // several files → pruning is real
      t.read
        .filter(col("text") >= "m" && col("text") < "w" &&
          col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("source"))
    },

    // ---- upsert-key (reference: CoreOptions.UPSERT_KEY + paimon-spark
    // RewriteUpsertTable): plain INSERT INTO an APPEND table merges on
    // the configured key — the analyzer rule rewrites AppendData to
    // MERGE INTO, sequence.field dedups the batch and guards stale
    // updates. The oracle is the equivalent newest-per-key window over
    // the concatenated batches.
    QDef(
      "g70_upsert_key",
      """SELECT c_custkey, name FROM (
        |  SELECT c_custkey, name,
        |    ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn
        |  FROM (
        |    SELECT c_custkey, c_name AS name, 1 AS seq
        |    FROM customer WHERE c_custkey % 4 = 0
        |    UNION ALL
        |    SELECT c_custkey, upper(c_name) AS name, 2 AS seq
        |    FROM customer WHERE c_custkey % 8 = 0))
        |WHERE rn = 1""".stripMargin) { (s, dir) =>
      withGraftExtensions(s) { s2 =>
        val wh = Files.createTempDirectory("graft-g70-wh").toString
        s2.conf.set("spark.sql.catalog.g70", "graft.sources.GraftCatalog")
        s2.conf.set("spark.sql.catalog.g70.warehouse", wh)
        tbl(s2, dir, "customer").createOrReplaceTempView("g70_src")
        s2.sql("CREATE NAMESPACE IF NOT EXISTS g70.gate")
        s2.sql("""CREATE TABLE g70.gate.cust (c_custkey BIGINT, name STRING, seq BIGINT)
                 |TBLPROPERTIES ('upsert-key'='c_custkey', 'sequence.field'='seq')""".stripMargin)
        s2.sql("""INSERT INTO g70.gate.cust
                 |SELECT c_custkey, c_name, 1L FROM g70_src
                 |WHERE c_custkey % 4 = 0""".stripMargin)
        s2.sql("""INSERT INTO g70.gate.cust
                 |SELECT c_custkey, upper(c_name), 2L FROM g70_src
                 |WHERE c_custkey % 8 = 0""".stripMargin)
        s2.sql("SELECT c_custkey, name FROM g70.gate.cust")
      }
    },

    // ---- chain table (reference: ChainGroupReadTable + chain-table
    // .enabled): a SNAPSHOT branch holds the d1 full state, a DELTA
    // branch holds d2/d3 increments; the chain read serves d1 as-is
    // and reconstructs d2 = base+d2, d3 = base+d2+d3 — each the
    // newest-per-key fold the oracle recomputes with windows.
    QDef(
      "g71_chain_table",
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS v, 1 AS seq
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |d2 AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS v, 2 AS seq
        |  FROM orders WHERE o_orderkey % 5 = 0),
        |d3 AS (
        |  SELECT o_orderkey AS k, CAST(o_orderdate AS VARCHAR) AS v, 3 AS seq
        |  FROM orders WHERE o_orderkey % 7 = 0)
        |SELECT 'd1' AS dt, k, v FROM base
        |UNION ALL
        |SELECT 'd2' AS dt, k, v FROM (
        |  SELECT k, v, ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        |  FROM (SELECT * FROM base UNION ALL SELECT * FROM d2)) WHERE rn = 1
        |UNION ALL
        |SELECT 'd3' AS dt, k, v FROM (
        |  SELECT k, v, ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        |  FROM (SELECT * FROM base UNION ALL SELECT * FROM d2
        |        UNION ALL SELECT * FROM d3)) WHERE rn = 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
      val orders = tbl(s, dir, "orders")
      def slice(mod: Int, v: org.apache.spark.sql.Column, seq: Long, dt: String) = orders
        .filter(col("o_orderkey") % mod === 0)
        .select(lit(dt).as("dt"), col("o_orderkey").as("k"),
          v.as("v"), lit(seq).as("seq"))
      val t = GraftTable.create(s, scratch("g71"), StructType(Seq(
        StructField("dt", StringType, nullable = false),
        StructField("k", LongType, nullable = false),
        StructField("v", StringType, nullable = true),
        StructField("seq", LongType, nullable = true))),
        partitionKeys = Seq("dt"), primaryKeys = Seq("dt", "k"),
        options = Map(
          "sequence.field" -> "seq",
          "chain-table.enabled" -> "true",
          "scan.fallback-snapshot-branch" -> "snap",
          "scan.fallback-delta-branch" -> "delta"))
      val snap = t.createBranch("snap")
      val delta = t.createBranch("delta")
      snap.write(slice(3, col("o_orderstatus"), 1L, "d1"))
      delta.write(slice(5, col("o_orderpriority"), 2L, "d2"))
      delta.write(slice(7, col("o_orderdate").cast("string"), 3L, "d3"))
      t.read.select(col("dt"), col("k"), col("v"))
    },

    // ---- bucket-key (reference: CoreOptions.BUCKET_KEY): a keyless
    // table distributed into fixed buckets by the declared key — the
    // bucket-key equality half of the predicate prunes to ONE bucket's
    // files, and the oracle recomputes from raw parquet so a routing
    // or pruning bug (row in the wrong bucket, bucket wrongly skipped)
    // is a row diff, not just a slow plan.
    QDef(
      "g73_bucket_key",
      """SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS qty
        |FROM lineitem WHERE l_orderkey = 1 OR l_orderkey % 1000 = 7
        |GROUP BY l_orderkey""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      val t = GraftTable.create(s, scratch("g73"), src.schema,
        options = Map("bucket-key" -> "l_orderkey", "bucket" -> "8"))
      t.write(src.repartition(8))
      // the single-key arm exercises bucket pruning; the modulo arm
      // proves non-pruned buckets still serve complete rows
      t.scan(col("l_orderkey") === 1L || col("l_orderkey") % 1000 === 7)
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n"),
          asDouble(sum(col("l_quantity").cast("decimal(18,2)"))).as("qty"))
    },

    // ---- materialized table (reference: CoreOptions
    // materialized-table.* — definition query stored as table metadata,
    // refreshed here by CALL sys.refresh_materialized_table): the gate
    // refreshes, mutates the source, refreshes AGAIN, and the oracle
    // recomputes the definition over the final source state — a stale
    // or dynamic-partial refresh shows as a row diff.
    QDef(
      "g72_materialized_table",
      """SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS bal
        |FROM customer WHERE c_custkey % 2 = 0
        |GROUP BY c_mktsegment""".stripMargin) { (s, dir) =>
      gateCatalog(s, "g72", Seq("seg", "cust"))
      tbl(s, dir, "customer").createOrReplaceTempView("g72_src")
      s.sql("CREATE TABLE g72.gate.cust (c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE)")
      // first slice + refresh, then the rest + refresh: the result must
      // reflect the SECOND state only (full replacement)
      s.sql("""CREATE TABLE g72.gate.seg (seg STRING, n BIGINT, bal DOUBLE)
              |TBLPROPERTIES ('materialized-table.definition-query'=
              |  'SELECT c_mktsegment AS seg, COUNT(*) AS n,
              |   CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS bal
              |   FROM g72.gate.cust GROUP BY c_mktsegment')""".stripMargin)
      s.sql("""INSERT INTO g72.gate.cust
              |SELECT c_custkey, c_mktsegment, c_acctbal FROM g72_src
              |WHERE c_custkey % 4 = 0""".stripMargin)
      s.sql("CALL g72.sys.refresh_materialized_table('gate.seg')")
      s.sql("""INSERT INTO g72.gate.cust
              |SELECT c_custkey, c_mktsegment, c_acctbal FROM g72_src
              |WHERE c_custkey % 2 = 0 AND c_custkey % 4 <> 0""".stripMargin)
      s.sql("CALL g72.sys.refresh_materialized_table('gate.seg')")
      s.sql("SELECT seg, n, bal FROM g72.gate.seg")
    },

    // ---- incremental-between READ OPTIONS (reference: CoreOptions
    // INCREMENTAL_BETWEEN + scan-mode delta — the
    // spark.read.option(...) spelling of incremental reads): the gate
    // upserts two slices and reads the second commit's delta through
    // the option; the oracle recomputes exactly that slice, so a
    // range-resolution or delta-extraction bug is a row diff.
    QDef(
      "g74_incremental_read_options",
      """SELECT c_custkey AS k, 'u' || c_name AS v
        |FROM customer WHERE c_custkey % 3 = 0""".stripMargin) { (s, dir) =>
      // recreate → snapshots restart at 0, so incremental-between 0,1
      // stays meaningful on re-invocation
      gateCatalog(s, "g74", Seq("t"))
      tbl(s, dir, "customer").createOrReplaceTempView("g74_src")
      s.sql("CREATE TABLE g74.gate.t (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('primary-key'='k', 'bucket'='2')")
      // snapshot 0: the even keys under their raw names
      s.sql("""INSERT INTO g74.gate.t
              |SELECT c_custkey, c_name FROM g74_src
              |WHERE c_custkey % 2 = 0""".stripMargin)
      // snapshot 1: every %3 key (updates where %6==0, inserts
      // elsewhere) under a marked name
      s.sql("""INSERT INTO g74.gate.t
              |SELECT c_custkey, 'u' || c_name FROM g74_src
              |WHERE c_custkey % 3 = 0""".stripMargin)
      s.read.option("incremental-between", "0,1")
        .table("g74.gate.t")
        .select(col("k"), col("v"))
    },

    // ---- commit-coupled partition expiry, BOUNDED (reference:
    // operation/PartitionExpire + partition.expiration-time /
    // -check-interval / -max-num): every year-partition of orders is
    // past the 7d retention, so each commit's pass drains the TWO
    // oldest; after two commits exactly the 4 oldest years are gone.
    // The oracle recomputes the surviving years relative to
    // MIN(year) (plus the second write's duplicate slice), so an
    // over-eager pass (no bound), a missed pass, or wrong
    // oldest-first ordering all show as row diffs.
    QDef(
      "g75_partition_auto_expire",
      """SELECT yr, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS tp
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS VARCHAR) AS yr, o_totalprice
        |  FROM orders
        |  WHERE year(o_orderdate) >=
        |    (SELECT MIN(year(o_orderdate)) FROM orders) + 4
        |  UNION ALL
        |  SELECT CAST(year(o_orderdate) AS VARCHAR), o_totalprice
        |  FROM orders
        |  WHERE year(o_orderdate) = (SELECT MAX(year(o_orderdate)) FROM orders)
        |    AND o_orderkey % 1000 = 0
        |) GROUP BY yr""".stripMargin) { (s, dir) =>
      val src = tbl(s, dir, "orders").select(
        year(col("o_orderdate")).cast("string").as("yr"),
        col("o_orderkey"), col("o_totalprice"))
      val maxYr = src.agg(max(col("yr"))).head.getString(0)
      val t = GraftTable.create(s, scratch("g75"), src.schema,
        partitionKeys = Seq("yr"),
        options = Map(
          "partition.expiration-time" -> "7d",
          "partition.expiration-check-interval" -> "0ms",
          "partition.expiration-max-num" -> "2",
          "partition.expiration-strategy" -> "values-time",
          "partition.timestamp-formatter" -> "yyyy"))
      t.write(src) // pass 1 rides this commit: drops the 2 oldest years
      // pass 2 rides this duplicate slice's commit: drops the next 2
      t.write(src.filter(col("yr") === maxYr &&
        col("o_orderkey") % 1000 === 0))
      t.read.groupBy(col("yr"))
        .agg(count(lit(1)).as("n"),
          asDouble(sum(col("o_totalprice").cast("decimal(18,2)"))).as("tp"))
    },

    // ---- incremental-between-scan-mode=changelog (reference:
    // CoreOptions INCREMENTAL_BETWEEN_SCAN_MODE CHANGELOG served
    // through the audit-log relation whose schema carries the row
    // kind — AuditLogTable.java:88): snapshot 1 updates the %6 keys
    // (exact -U/+U pairs from the lookup changelog producer) and
    // inserts the odd %3 keys (+I). The oracle reconstructs all three
    // row classes, so a missing retraction, a mislabeled kind, or an
    // un-kinded delta row is a row diff.
    QDef(
      "g76_changelog_read_option",
      """SELECT c_custkey AS k, c_name AS v, '-U' AS _row_kind
        |FROM customer WHERE c_custkey % 6 = 0
        |UNION ALL
        |SELECT c_custkey, 'u' || c_name, '+U'
        |FROM customer WHERE c_custkey % 6 = 0
        |UNION ALL
        |SELECT c_custkey, 'u' || c_name, '+I'
        |FROM customer WHERE c_custkey % 3 = 0 AND c_custkey % 2 <> 0""".stripMargin) { (s, dir) =>
      val wh = Files.createTempDirectory("graft-g76-wh").toString
      s.conf.set("spark.sql.catalog.g76", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.g76.warehouse", wh)
      tbl(s, dir, "customer").createOrReplaceTempView("g76_src")
      s.sql("CREATE NAMESPACE IF NOT EXISTS g76.gate")
      s.sql("DROP TABLE IF EXISTS g76.gate.t") // idempotent under bench retry
      s.sql("CREATE TABLE g76.gate.t (k BIGINT, v STRING) " +
        "TBLPROPERTIES ('primary-key'='k', 'bucket'='2', " +
        "'changelog-producer'='lookup')")
      // snapshot 0: the even keys under their raw names
      s.sql("""INSERT INTO g76.gate.t
              |SELECT c_custkey, c_name FROM g76_src
              |WHERE c_custkey % 2 = 0""".stripMargin)
      // snapshot 1: every %3 key (updates where %6==0, inserts
      // elsewhere) under a marked name
      s.sql("""INSERT INTO g76.gate.t
              |SELECT c_custkey, 'u' || c_name FROM g76_src
              |WHERE c_custkey % 3 = 0""".stripMargin)
      s.read.option("incremental-between", "0,1")
        .option("incremental-between-scan-mode", "changelog")
        .table("g76.gate.`t$audit_log`")
        .select(col("k"), col("v"), col("_row_kind"))
    })
}
