package graft.ops

import graft.{Op, Tables => T}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SURVEY.md §2-A — sources & sinks.
  *
  * Snapflow's storage/format-conversion lattice (DataFrame <-> records <->
  * CSV <-> DB table) collapses onto Spark's reader/writer matrix; these ops
  * prove the parquet/CSV/JSON legs plus an explicit materialize-and-reread.
  */
object Sources {

  /** CSV round-trip: materialize `region` as CSV, read it back with an
    * explicit schema (snapflow `import_csv` with a declared schema).
    */
  private def csvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = s"target/tmp/csv_${d.replaceAll("[^A-Za-z0-9]", "_")}"
    T.t(s, d, "region").write.mode("overwrite").option("header", "true").csv(tmp)
    val schema = StructType(Seq(
      StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType)))
    s.read.schema(schema).option("header", "true").csv(tmp)
      .orderBy("r_regionkey")
  }

  /** Materialize a block to parquet and read it back (snapflow's
    * StoredDataBlock persist step; Verify.scala does this for every op).
    */
  /** ORC leg of the format-conversion lattice. */
  private def orcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = s"target/tmp/orc_${d.replaceAll("[^A-Za-z0-9]", "_")}"
    T.t(s, d, "supplier").write.mode("overwrite").orc(tmp)
    s.read.orc(tmp).orderBy("s_suppkey")
  }

  /** JSON-lines leg: write region as JSONL, read back with an explicit
    * schema (JSON inference would widen int to bigint).
    */
  private def jsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    val tmp = s"target/tmp/json_${d.replaceAll("[^A-Za-z0-9]", "_")}"
    T.t(s, d, "region").write.mode("overwrite").json(tmp)
    val schema = StructType(Seq(
      StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType)))
    s.read.schema(schema).json(tmp).orderBy("r_regionkey")
  }

  /** XML leg (Spark 4 native StAX source — no external package): write
    * region as row-per-record XML, read back with a declared schema.
    * The remaining format a warehouse exchange actually ships.
    */
  private def xmlRoundtrip(s: SparkSession, d: String): DataFrame = {
    // per-invocation dir: concurrent verify/bench runs of this op must
    // not interleave writes into one fixed path (same hazard this repo
    // already fixed for core_incremental_pipeline / src_jdbc_roundtrip)
    val tmp = java.nio.file.Files.createTempDirectory("graft_xml_").toString
    T.t(s, d, "region").write.mode("overwrite")
      .option("rootTag", "regions").option("rowTag", "region")
      .format("xml").save(tmp)
    val schema = StructType(Seq(
      StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType)))
    s.read.schema(schema).option("rowTag", "region").format("xml").load(tmp)
      .orderBy("r_regionkey")
  }

  private def parquetSink(s: SparkSession, d: String): DataFrame = {
    val tmp = s"target/tmp/snk_${d.replaceAll("[^A-Za-z0-9]", "_")}"
    T.t(s, d, "supplier").write.mode("overwrite").parquet(tmp)
    s.read.parquet(tmp).orderBy("s_suppkey")
  }

  /** DuckDB replay of WebhookModule.deliveries: terminal CTE
    * `del(delivery_id, event_key, event, payload, amount_cents,
    * signature, sig_ok)`.
    */
  private lazy val oDeliveries: String =
    "WITH raw AS (SELECT o_orderkey AS delivery_id, o_orderkey // 2 AS event_key, " +
      "CASE WHEN o_orderstatus = 'F' THEN 'payment.settled' " +
      "WHEN o_orderstatus = 'O' THEN 'payment.created' " +
      "ELSE 'payment.pending' END AS event, " +
      "concat('{\"customer\":', CAST(o_custkey AS VARCHAR), ',\"amount_cents\":', " +
      "CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR), '}') AS payload, " +
      "CAST(floor(o_totalprice * 100) AS BIGINT) AS amount_cents FROM orders), " +
      "del AS (SELECT delivery_id, event_key, event, payload, amount_cents, " +
      "CASE WHEN delivery_id % 7 = 0 THEN 'deadbeef' " +
      "ELSE sha256(concat(payload, 'whsec_demo')) END AS signature, " +
      "delivery_id % 7 <> 0 AS sig_ok FROM raw)"

  val ops: Seq[Op] = Seq(
    Op("src_parquet_scan",
      (s, d) => T.t(s, d, "part").orderBy("p_partkey"),
      Some("SELECT * FROM part ORDER BY p_partkey")),

    Op("src_csv_roundtrip",
      csvRoundtrip,
      Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),

    Op("src_json_lines",
      (s, d) => T.events(s, d).select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast(IntegerType).as("k"))
        .orderBy("event_id"),
      Some("SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k " +
        "FROM events ORDER BY event_id")),

    Op("snk_parquet_write",
      parquetSink,
      Some("SELECT * FROM supplier ORDER BY s_suppkey")),

    // codec control on the sink: zstd-compressed parquet round-trip
    // (values identical to the source; only the file bytes differ).
    // At 100 TB codec choice is a first-order cost knob — zstd trades
    // ~10-20% more write CPU for materially smaller cold storage than
    // snappy, and the scan stays vectorized either way.
    Op("snk_parquet_zstd",
      (s, d) => {
        val tmp = s"target/tmp/zstd_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        T.t(s, d, "supplier").write.mode("overwrite")
          .option("compression", "zstd").parquet(tmp)
        s.read.parquet(tmp).orderBy("s_suppkey")
      },
      Some("SELECT * FROM supplier ORDER BY s_suppkey")),

    Op("src_orc_roundtrip",
      orcRoundtrip,
      Some("SELECT * FROM supplier ORDER BY s_suppkey")),

    // JDBC storage leg (snapflow's primary storages are relational
    // databases): write supplier to an embedded Apache Derby database
    // through df.write.jdbc, read it back with spark.read.jdbc using a
    // partitioned read (partitionColumn/bounds/numPartitions) — the same
    // options that split a warehouse table across executors at scale.
    // Derby ships with Spark, runs in-process, and needs no network, so
    // the leg works in this zero-egress container; against Postgres only
    // the URL and driver change.
    Op("src_jdbc_roundtrip",
      (s, d) => {
        // derby.system.home is JVM-global: set once, never moved (moving
        // it mid-session orphans open databases). The database itself is
        // per-invocation unique so concurrent verify/bench runs can't
        // interleave overwrite-writes into one table (ADVICE r4).
        if (System.getProperty("derby.system.home") == null) {
          System.setProperty("derby.system.home", "target/tmp/derby")
        }
        new java.io.File(System.getProperty("derby.system.home")).mkdirs()
        val nonce = java.util.UUID.randomUUID().toString.replace("-", "").take(10)
        val url = s"jdbc:derby:db_${d.replaceAll("[^A-Za-z0-9]", "_")}_$nonce;create=true"
        val props = new java.util.Properties()
        props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
        T.t(s, d, "supplier")
          .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
          .write.mode("overwrite").jdbc(url, "supplier_rt", props)
        s.read.option("partitionColumn", "s_suppkey")
          .option("lowerBound", "0").option("upperBound", "1000000")
          .option("numPartitions", "4")
          .jdbc(url, "supplier_rt", props)
          .orderBy("s_suppkey")
      },
      Some("SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey")),

    Op("src_json_roundtrip",
      jsonRoundtrip,
      Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),

    Op("src_xml_roundtrip",
      xmlRoundtrip,
      Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),

    // generator source: deterministic synthetic rows from a range — the
    // scale path for test-data generation (spark.range parallelizes the
    // sequence across executors; no input files at all). The bucket hash
    // is plain multiplicative arithmetic so the oracle reproduces it.
    Op("src_generate_series",
      (s, d) => s.range(0, 10000)
        .select(col("id"),
          pmod(col("id") * lit(2654435761L), lit(97)).cast("int").as("bucket"),
          expr("CAST(timestamp_micros(CAST(1704067200000000 + id * 60000000 AS BIGINT)) AS TIMESTAMP_NTZ)").as("ts"),
          concat(lit("row-"), col("id")).as("tag"))
        .where("bucket < 10")
        .orderBy("id"),
      Some("SELECT id, CAST((id * 2654435761) % 97 AS INTEGER) AS bucket, " +
        "make_timestamp(1704067200000000 + id * 60000000) AS ts, " +
        "concat('row-', id) AS tag " +
        "FROM range(0, 10000) t(id) WHERE (id * 2654435761) % 97 < 10 ORDER BY id")),

    // schema evolution (snapflow's declared-vs-realized schema regime):
    // an old block without `n_chars` and a new block with it live in the
    // same dataset; mergeSchema reconciles, old rows surface NULL.
    Op("src_schema_evolution",
      (s, d) => {
        val tmp = s"target/tmp/evo_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        val docs = T.t(s, d, "documents")
        docs.where("doc_id % 2 = 0").select("doc_id", "lang")
          .write.mode("overwrite").parquet(s"$tmp/block_a")
        docs.where("doc_id % 2 = 1").select("doc_id", "lang", "n_chars")
          .write.mode("overwrite").parquet(s"$tmp/block_b")
        s.read.option("mergeSchema", "true")
          .parquet(s"$tmp/block_a", s"$tmp/block_b")
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, lang, NULL AS n_chars FROM documents WHERE doc_id % 2 = 0 " +
        "UNION ALL BY NAME SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 1 " +
        "ORDER BY doc_id")),

    // raw text-lines leg (one line per document; texts carry no newlines).
    Op("src_text_roundtrip",
      (s, d) => {
        val tmp = s"target/tmp/text_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        T.t(s, d, "documents").select("text").write.mode("overwrite").text(tmp)
        s.read.text(tmp).orderBy("value")
      },
      Some("SELECT text AS value FROM documents ORDER BY value")),

    // bucketed write + co-located join: orders bucketed by o_custkey join
    // customer — the bucketed side needs no shuffle (asserted in tests).
    Op("snk_bucketed_join",
      (s, d) => {
        val tbl = s"orders_bucketed_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        if (!s.catalog.tableExists(tbl)) {
          // a fresh in-memory catalog may not know a table whose warehouse
          // dir survived a previous session — clear the stale location.
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm)
            f.delete(): Unit
          }
          val wh = new java.io.File(
            new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath, tbl)
          if (wh.exists()) rm(wh)
          T.t(s, d, "orders")
            .write.mode("overwrite")
            .bucketBy(8, "o_custkey").sortBy("o_custkey")
            .format("parquet").saveAsTable(tbl)
        }
        val c = T.t(s, d, "customer")
        s.table(tbl).join(c, col("o_custkey") === c("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"), T.dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("c_mktsegment")
      },
      Some("SELECT c_mktsegment, count(*) AS n_orders, " +
        s"${T.oSum("o_totalprice")} AS sum_price " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment")),

    // malformed-input handling: PERMISSIVE CSV parse with a corrupt-
    // record column — bad lines survive as raw text with NULL fields
    // instead of killing the job (DROPMALFORMED/FAILFAST are the other
    // modes; a 100 TB ingest ALWAYS sees some garbage). The file is
    // written with two deliberately broken lines; the oracle states the
    // expected parse outcome row by row.
    Op("src_csv_malformed",
      (s, d) => {
        val dir = new java.io.File(s"target/tmp/csvm_${d.replaceAll("[^A-Za-z0-9]", "_")}")
        dir.mkdirs()
        val rows = T.t(s, d, "region").select("r_regionkey", "r_name")
          .orderBy("r_regionkey").collect()
          .map(r => s"${r.getInt(0)},${r.getString(1)}")
        val lines = (rows :+ "not_an_int,BROKEN" :+ "9").mkString("\n")
        java.nio.file.Files.write(
          new java.io.File(dir, "data.csv").toPath, lines.getBytes("UTF-8"))
        s.read
          .schema("r_regionkey INT, r_name STRING, _corrupt STRING")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt")
          .csv(dir.getPath)
          .select(col("r_regionkey"), col("r_name"),
            col("_corrupt").isNotNull.as("is_corrupt"))
          .orderBy(col("r_regionkey").asc_nulls_last, col("r_name").asc_nulls_last)
      },
      // observed PERMISSIVE contract: a short row parses its present
      // fields but IS flagged corrupt; a type-failing row keeps the
      // fields that do parse ('BROKEN') and is flagged corrupt
      Some("SELECT r_regionkey, r_name, false AS is_corrupt FROM region " +
        "UNION ALL VALUES (9, NULL, true), (NULL, 'BROKEN', true) " +
        "ORDER BY r_regionkey ASC NULLS LAST, r_name ASC NULLS LAST")),

    // small-file compaction: a directory fragmented into 64 shards is
    // rewritten as 4 right-sized files and read back — the table
    // maintenance every long-lived ingest needs (small files poison
    // scan parallelism bookkeeping and the file-listing path; at 100 TB
    // compaction targets spark.sql.files.maxPartitionBytes-sized
    // outputs and runs per partition directory). Values are proven
    // identical through the oracle; the file counts are the point.
    Op("core_compact_files",
      (s, d) => {
        val frag = s"target/tmp/frag_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        val compact = s"target/tmp/compact_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        val src = T.t(s, d, "orders")
        src.repartition(64).write.mode("overwrite").parquet(frag)
        s.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(compact)
        s.read.schema(src.schema).parquet(compact)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("SELECT o_orderkey, o_custkey, o_totalprice FROM orders ORDER BY o_orderkey")),

    // dynamic partition overwrite: refresh ONE partition of a
    // partitioned table in place (the incremental-materialization
    // pattern — recompute yesterday's partition, leave the rest
    // untouched). partitionOverwriteMode=dynamic replaces only the
    // partitions present in the incoming frame; a static overwrite
    // would wipe the whole table. Verified by reading the final state:
    // F rows carry the refreshed price, O/P rows the original.
    Op("snk_dynamic_partition_overwrite",
      (s, d) => {
        val tmp = s"target/tmp/dyn_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        val src = T.t(s, d, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        src.write.mode("overwrite").partitionBy("o_orderstatus").parquet(tmp)
        src.where("o_orderstatus = 'F'")
          .withColumn("o_totalprice", expr(
            "CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)) * 1.05, 2) AS DOUBLE)"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("o_orderstatus").parquet(tmp)
        s.read.schema(src.schema).parquet(tmp).orderBy("o_orderkey")
      },
      Some("SELECT o_orderkey, o_custkey, " +
        "CASE WHEN o_orderstatus = 'F' THEN " +
        "CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)) * 1.05, 2) AS DOUBLE) " +
        "ELSE o_totalprice END AS o_totalprice, o_orderstatus " +
        "FROM orders ORDER BY o_orderkey")),

    // binaryFile source: the real multimodal ingestion path — opaque
    // files arrive as (path, modificationTime, length, content) rows.
    // Twenty docs are materialized as .bin files and read back through
    // the format; the oracle checks the content-derived columns (id
    // from the file name, byte length, digest) against the source text.
    Op("src_binary_file",
      (s, d) => {
        val dir = new java.io.File(s"target/tmp/binf_${d.replaceAll("[^A-Za-z0-9]", "_")}")
        dir.mkdirs()
        T.t(s, d, "documents").where("doc_id < 20")
          .select("doc_id", "text").collect().foreach { r =>
            java.nio.file.Files.write(
              new java.io.File(dir, s"doc_${r.getLong(0)}.bin").toPath,
              r.getString(1).getBytes("UTF-8"))
          }
        s.read.format("binaryFile").load(dir.getPath)
          .select(
            expr("CAST(regexp_extract(path, 'doc_([0-9]+)\\\\.bin', 1) AS BIGINT)").as("doc_id"),
            col("length"),
            md5(col("content")).as("digest"))
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, CAST(strlen(text) AS BIGINT) AS length, md5(text) AS digest " +
        "FROM documents WHERE doc_id < 20 ORDER BY doc_id")),

    // Hive-style partitioned layout + partition pruning: write orders
    // partitioned by status, read back with a partition predicate — the
    // scan must touch only the o_orderstatus=F directory (PartitionFilters
    // in the plan; at 100 TB this is the difference between reading one
    // partition and the whole table).
    Op("snk_partitioned_prune",
      (s, d) => {
        val tmp = s"target/tmp/part_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        val src = T.t(s, d, "orders")
        // cluster rows by (partition column, bounded salt) before the
        // write: without this every task writes a file into every status
        // directory (tasks × values small files — metadata poison at any
        // scale); clustering by status alone caps write parallelism at
        // the value count. The salt keeps ≤ 8 well-sized files per
        // directory while all cores compress.
        src.repartition(col("o_orderstatus"),
            pmod(xxhash64(col("o_orderkey")), lit(8)))
          .write.mode("overwrite").partitionBy("o_orderstatus").parquet(tmp)
        // explicit schema: an all-empty input writes no partition dirs,
        // which would otherwise fail inference
        s.read.schema(src.schema).parquet(tmp).where("o_orderstatus = 'F'")
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
          .orderBy("o_orderkey")
      },
      Some("SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus " +
        "FROM orders WHERE o_orderstatus = 'F' ORDER BY o_orderkey")),

    // CSV with non-default dialect options: '|' delimiter, explicit NULL
    // sentinel, header — written then read back with a declared schema
    // (the snapflow import_csv surface beyond the happy path).
    Op("src_csv_options",
      (s, d) => {
        import org.apache.spark.sql.types._
        val tmp = s"target/tmp/csvopt_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        T.t(s, d, "supplier")
          .withColumn("maybe_nation", expr("nullif(s_nationkey % 7, 0)"))
          .select("s_suppkey", "s_name", "maybe_nation", "s_acctbal")
          .write.mode("overwrite")
          .option("header", "true").option("sep", "|").option("nullValue", "NULL")
          .csv(tmp)
        val schema = StructType(Seq(
          StructField("s_suppkey", LongType), StructField("s_name", StringType),
          StructField("maybe_nation", IntegerType), StructField("s_acctbal", DoubleType)))
        s.read.schema(schema)
          .option("header", "true").option("sep", "|").option("nullValue", "NULL")
          .csv(tmp)
          .orderBy("s_suppkey")
      },
      Some("SELECT s_suppkey, s_name, nullif(s_nationkey % 7, 0) AS maybe_nation, s_acctbal " +
        "FROM supplier ORDER BY s_suppkey")),

    // Clustered sink: repartition by key + sortWithinPartitions before
    // the write — the layout knob that makes parquet min/max row-group
    // skipping effective on the read side (zone-map locality at 100 TB).
    // Content round-trips unchanged; the oracle checks exactly that.
    Op("snk_sorted_write",
      (s, d) => {
        val tmp = s"target/tmp/sorted_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        T.events(s, d)
          .select("event_id", "user_id", "event_type", "value")
          .repartition(4, col("user_id"))
          .sortWithinPartitions("user_id", "event_id")
          .write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp).orderBy("event_id")
      },
      Some("SELECT event_id, user_id, event_type, value FROM events ORDER BY event_id")),

    // Parquet column BLOOM FILTERS on the sink: the point-lookup
    // story for a 100-TB key-addressed table — a reader probing
    // o_orderkey skips every row group whose bloom filter rejects the
    // key, without any sort/cluster requirement (complementing
    // snk_sorted_write's min/max pruning, which needs clustering, and
    // core_zorder_cluster's multi-column layout). The op writes with
    // filters enabled + sized (expected NDV), reads three
    // deterministic point keys back, and the oracle checks the rows;
    // a spec checks the footer actually CARRIES the bloom filter
    // (an ignored write option would silently degrade to full scans).
    Op("snk_parquet_bloom",
      (s, d) => {
        val dir = s"target/tmp/bloom_${java.util.UUID.randomUUID().toString.take(8)}"
        val orders = T.t(s, d, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        orders.write
          .option("parquet.bloom.filter.enabled#o_orderkey", "true")
          .option("parquet.bloom.filter.expected.ndv#o_orderkey", "200000")
          .mode("overwrite").parquet(dir)
        val keys = orders.where("o_orderkey % 7 = 0")
          .orderBy("o_orderkey").limit(3)
          .collect().map(_.getLong(0))
        val got = s.read.parquet(dir)
          .where(col("o_orderkey").isin(keys.toIndexedSeq: _*))
          .localCheckpoint()
        graft.api.StoreIO.delete(s, dir)
        got.orderBy("o_orderkey")
      },
      Some("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "WHERE o_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 7 = 0 " +
        "ORDER BY o_orderkey LIMIT 3) ORDER BY o_orderkey")),

    // Parquet footer-stats integrity audit: per-column value and null
    // counts read from the ROW-GROUP METADATA (parquet-hadoop footer
    // API, no data pages touched), verified against the data by the
    // oracle. Footer stats are what every stats-based file/row-group
    // skip trusts — min/max pruning, null-aware rewrites, bloom
    // routing — so "footer == data" is the audit that makes skipping
    // safe to enable. The driver-side loop is bounded by metadata size
    // (row-groups x columns), never rows.
    Op("src_parquet_rowgroup_stats",
      (s, d) => {
        import scala.jdk.CollectionConverters._
        import org.apache.hadoop.fs.Path
        val conf = s.sparkContext.hadoopConfiguration
        val root = new Path(s"$d/lineitem.parquet")
        val hfs = root.getFileSystem(conf)
        val files =
          if (hfs.getFileStatus(root).isDirectory)
            hfs.listStatus(root).map(_.getPath)
              .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          else Array(root)
        val chunks = files.flatMap { fp =>
          val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(fp, conf))
          try rd.getFooter.getBlocks.asScala.flatMap(b => b.getColumns.asScala.map(c =>
            (c.getPath.toDotString, c.getValueCount,
              Option(c.getStatistics).filter(!_.isEmpty).map(_.getNumNulls).getOrElse(0L))))
          finally rd.close()
        }
        import s.implicits._
        chunks.toSeq.groupBy(_._1).toSeq
          .map { case (name, cs) => (name, cs.map(_._2).sum, cs.map(_._3).sum) }
          .sortBy(_._1)
          .toDF("col_name", "n_values", "n_nulls")
      },
      Some(Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
          "l_shipdate")
        .map(c => s"SELECT '$c' AS col_name, count(*) AS n_values, " +
          s"count(*) - count($c) AS n_nulls FROM lineitem")
        .mkString("", " UNION ALL ", " ORDER BY col_name"))),

    // Webhook module, op 1: envelope verify + parse. Real BinaryType-free
    // but real-crypto path: the signature is lowercase-hex SHA-256 over
    // payload || secret, and the per-group min(signature) column forces
    // BOTH engines to hash every payload — a digest drift anywhere
    // breaks the compare. One codegen projection + one map-side-combined
    // aggregate.
    Op("mod_webhook_parse",
      (s, d) => graft.api.WebhookModule.parse(graft.api.WebhookModule.deliveries(s, d))
        .groupBy("event", "sig_ok").agg(
          count(lit(1)).as("n_deliveries"),
          sum("amount_cents").as("amount_cents_sum"),
          min("signature").as("min_sig"))
        .orderBy("event", "sig_ok"),
      Some(oDeliveries +
        " SELECT event, sig_ok, count(*) AS n_deliveries, " +
        "CAST(sum(amount_cents) AS BIGINT) AS amount_cents_sum, " +
        "min(signature) AS min_sig " +
        "FROM del GROUP BY 1, 2 ORDER BY 1, 2")),

    // Webhook module, op 2: at-least-once replay dedup — providers
    // retry, retries share event_key — keep the FIRST valid delivery
    // per event (min delivery_id among signature-verified rows), then
    // report per event type. One keyed exchange on event_key.
    Op("mod_webhook_replay_dedup",
      (s, d) => graft.api.WebhookModule.dedupeReplays(
          graft.api.WebhookModule.parse(graft.api.WebhookModule.deliveries(s, d))
            .where(col("sig_ok")))
        .groupBy("event").agg(
          count(lit(1)).as("n_events"),
          sum("amount_cents").as("amount_cents_sum"))
        .orderBy("event"),
      Some(oDeliveries + ", first AS (SELECT * FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY event_key ORDER BY delivery_id) AS rn " +
        "FROM del WHERE sig_ok) WHERE rn = 1) " +
        "SELECT event, count(*) AS n_events, " +
        "CAST(sum(amount_cents) AS BIGINT) AS amount_cents_sum " +
        "FROM first GROUP BY 1 ORDER BY 1"))
  )
}
