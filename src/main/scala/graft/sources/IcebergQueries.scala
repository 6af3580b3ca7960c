package graft.sources

import graft.QueryDsl._
import org.apache.spark.sql.functions._

/** Oracle-checked Iceberg read-path + metadata-TVF queries (SURVEY.md §2.2).
  *
  * Data-read oracles run DuckDB's own parquet reader over the same fixture
  * data files; metadata-TVF oracles are fixed literals from the in-tree
  * `wh/default.db/cities` fixture (the exact values asserted by
  * slt/iceberg SLTs).
  */
object IcebergQueries {

  private val Base = "/root/reference/testdata/iceberg"
  private val Cities = s"$Base/wh/default.db/cities"

  /** The reference fixture each query that needs one reads (ice09 builds
    * its own table). */
  val referenceInputs: Map[String, String] =
    Seq("ice01_read_v1_simple", "ice02_read_v2_partitioned",
      "ice03_partition_pruned", "ice04_read_versioned").map(_ -> Base).toMap ++
      Seq("ice05_metadata", "ice06_snapshots", "ice07_manifest_list",
        "ice08_data_files").map(_ -> Cities)

  val queries: Map[String, Q] = Map(
    // v1 format, unpartitioned read (glaredb_ext_iceberg/src/table/).
    "ice01_read_v1_simple" -> { (s, _) =>
      Iceberg.read(s, s"$Base/tables-v1/lineitem_simple")
        .agg(count(lit(1)).as("n"),
          sumd(col("l_quantity")).as("sum_qty"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"))
    },

    // v2 format, identity-partitioned read: all partitions, grouped.
    "ice02_read_v2_partitioned" -> { (s, _) =>
      Iceberg.read(s, s"$Base/tables-v2/lineitem_partitioned")
        .groupBy("l_shipmode")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice")).cast("decimal(38,2)").as("sum_price"))
        .orderBy("l_shipmode")
    },

    // Manifest-level partition pruning: the AIR file list is resolved from
    // manifest partition tuples BEFORE the scan is built (planning-time file
    // skip — the piece that matters at 100 TB).
    "ice03_partition_pruned" -> { (s, _) =>
      Iceberg.read(s, s"$Base/tables-v1/lineitem_partitioned",
          partitionFilter = Map("l_shipmode" -> "AIR"))
        .agg(count(lit(1)).as("n"), sumd(col("l_quantity")).as("sum_qty"))
    },

    // Multi-snapshot table: read resolves the CURRENT snapshot's manifests.
    "ice04_read_versioned" -> { (s, _) =>
      Iceberg.read(s, s"$Base/tables-v1/lineitem_versioned")
        .agg(count(lit(1)).as("n"), sumd(col("l_quantity")).as("sum_qty"))
    },

    // Metadata TVFs (functions/metadata.rs:36-81; slt/iceberg SLTs values).
    // v2 row-level deletes: a synthesized table over the nation fixture
    // carries a live position-delete (rows 0-1 of the first data file =
    // n_nationkey 0,1) and equality-delete (n_regionkey = 2) file;
    // Iceberg.read applies both distributed (anti-joins over
    // _metadata.file_path/row_index), so the survivors equal the oracle's
    // relational predicate.
    "ice09_v2_deletes" -> { (s, dir) =>
      val root = IcebergFixture.deleteDemo(s, dir)
      Iceberg.read(s, root)
    },

    "ice05_metadata" -> { (s, _) => Iceberg.metadataDf(s, Cities) },
    "ice06_snapshots" -> { (s, _) => Iceberg.snapshotsDf(s, Cities) },
    "ice07_manifest_list" -> { (s, _) => Iceberg.manifestListDf(s, Cities) },
    "ice08_data_files" -> { (s, _) => Iceberg.dataFilesDf(s, Cities) })

  val oracles: Map[String, String] = Map(
    "ice01_read_v1_simple" -> s"""
      SELECT count(*) AS n, ${sql.sumd("l_quantity")} AS sum_qty,
             min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok
      FROM read_parquet('$Base/tables-v1/lineitem_simple/data/*.parquet')""",

    "ice02_read_v2_partitioned" -> s"""
      SELECT l_shipmode, count(*) AS n,
             CAST(sum(l_extendedprice) AS DECIMAL(38,2)) AS sum_price
      FROM read_parquet('$Base/tables-v2/lineitem_partitioned/data/*/*.parquet',
                        hive_partitioning=0)
      GROUP BY l_shipmode ORDER BY l_shipmode""",

    "ice03_partition_pruned" -> s"""
      SELECT count(*) AS n, ${sql.sumd("l_quantity")} AS sum_qty
      FROM read_parquet('$Base/tables-v1/lineitem_partitioned/data/*/*.parquet',
                        hive_partitioning=0)
      WHERE l_shipmode = 'AIR'""",

    "ice04_read_versioned" -> s"""
      SELECT count(*) AS n, ${sql.sumd("l_quantity")} AS sum_qty
      FROM read_parquet('$Base/tables-v1/lineitem_versioned/data/*.parquet')""",

    "ice05_metadata" -> """
      SELECT CAST(2 AS INT) AS format_version,
             '3e7c486c-5e5a-426e-aed7-a022fe2b52b6' AS table_uuid,
             'file://wh/default.db/cities' AS location""",

    "ice06_snapshots" -> """
      SELECT CAST(8687260678833969554 AS BIGINT) AS snapshot_id,
             CAST(1 AS BIGINT) AS sequence_number,
             'file://wh/default.db/cities/metadata/snap-8687260678833969554-0-6704a04a-3e2e-415f-b173-b21f4c5b78b7.avro' AS manifest_list""",

    "ice07_manifest_list" -> """
      SELECT 'file://wh/default.db/cities/metadata/6704a04a-3e2e-415f-b173-b21f4c5b78b7-m0.avro' AS manifest_path,
             CAST(4390 AS BIGINT) AS manifest_length,
             'data' AS content,
             CAST(1 AS BIGINT) AS sequence_number""",

    "ice08_data_files" -> """
      SELECT 'ADDED' AS status, 'DATA' AS content,
             'file://wh/default.db/cities/data/00000-0-6704a04a-3e2e-415f-b173-b21f4c5b78b7.parquet' AS file_path,
             'PARQUET' AS file_format, CAST(4 AS BIGINT) AS record_count""",

    // the delete-demo table is BUILT from `nation`, so the expected
    // survivors are expressible relationally over the fixture itself
    "ice09_v2_deletes" -> """
      SELECT n_nationkey, n_name, n_regionkey FROM nation
      WHERE n_nationkey NOT IN (0, 1) AND n_regionkey <> 2""")
}
