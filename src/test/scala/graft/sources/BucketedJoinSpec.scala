package graft.sources

import java.nio.file.Files

import graft.TestSpark
import graft.catalog.{CatalogConfig, CatalogFactory, CatalogIO, HadoopFsCatalog, TableRef}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketing for co-located joins (scale posture): two tables bucketed
  * on the join key with the same bucket count join WITHOUT a shuffle
  * exchange — at 100 TB this converts every recurring fact-fact join on
  * the bucket key from a full network shuffle into local merges. */
class BucketedJoinSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("same-bucket-count tables join without a shuffle exchange") {
    val dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      graft.Tables(spark, dir, "orders")
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("graft_orders_b")
      graft.Tables(spark, dir, "lineitem")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("graft_lineitem_b")

      val joined = spark.table("graft_orders_b")
        .join(spark.table("graft_lineitem_b"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("c"))

      val plan = joined.queryExecution.executedPlan.toString
      // the join itself must not introduce a hash-partition exchange;
      // the only exchange allowed is the aggregation's
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, s"expected a SortMergeJoin in:\n$plan")
      assert(!plan.substring(joinIdx).contains("Exchange hashpartitioning"), plan)

      // and it still computes the right thing
      val direct = graft.Tables(spark, dir, "orders")
        .join(graft.Tables(spark, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("c"))
        .collect().map(_.mkString("|")).sorted.toSeq
      val got = joined.collect().map(_.mkString("|")).sorted.toSeq
      assert(got == direct)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_orders_b")
      spark.sql("DROP TABLE IF EXISTS graft_lineitem_b")
    }
  }

  test("layout metadata round-trips hostile names (quotes, backslashes, brackets)") {
    val hostile = Seq("col\"quote", "col\\back", "col]bracket", "col\ttab")
    val dataLoc = "/tmp/weird \"dir\"\\with]stuff"
    val json = graft.catalog.LayoutCodec.metadataJson("/tmp/t", dataLoc,
      CatalogIO.TableLayout(dataLoc, partitionColumns = hostile,
        numBuckets = Some(4), bucketColumns = Seq("b`tick"),
        sortColumns = Seq("s]x")))
    val loc = Files.createTempDirectory("esc-meta").resolve("v1.metadata.json")
    Files.writeString(loc, json)
    val rt = CatalogIO.readLayout(loc.toString)
    assert(rt.dataLocation == dataLoc)
    assert(rt.partitionColumns == hostile)
    assert(rt.numBuckets.contains(4))
    assert(rt.bucketColumns == Seq("b`tick"))
    assert(rt.sortColumns == Seq("s]x"))
  }

  test("catalog-served bucketed tables join without a shuffle (spec from metadata JSON)") {
    val dir = "/root/testdata/sf0.001"
    val wh = Files.createTempDirectory("bucket-wh").toString
    val cat = CatalogFactory.build(CatalogConfig("hadoop", "bwh",
      Map("warehouse" -> wh))).asInstanceOf[HadoopFsCatalog]
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // layout recorded in the graft catalog's metadata JSON at create time
      CatalogIO.createTable(spark, cat, TableRef.parse("db.orders_b"),
        graft.Tables(spark, dir, "orders"),
        bucketBy = Some((8, Seq("o_orderkey"))), sortBy = Seq("o_orderkey"))
      CatalogIO.createTable(spark, cat, TableRef.parse("db.lineitem_b"),
        graft.Tables(spark, dir, "lineitem"),
        bucketBy = Some((8, Seq("l_orderkey"))), sortBy = Seq("l_orderkey"))
      // the layout round-trips through the metadata file, not caller args
      val layout = CatalogIO.readLayout(
        cat.loadTableMetadataLocation(TableRef.parse("db.orders_b")))
      assert(layout.numBuckets.contains(8) &&
        layout.bucketColumns == Seq("o_orderkey") &&
        layout.sortColumns == Seq("o_orderkey"))

      // attach projects the recorded spec into the session catalog
      CatalogIO.attachAsSessionTable(spark, cat, TableRef.parse("db.orders_b"),
        "graft_cat_orders_b")
      CatalogIO.attachAsSessionTable(spark, cat, TableRef.parse("db.lineitem_b"),
        "graft_cat_lineitem_b")

      val joined = spark.table("graft_cat_orders_b")
        .join(spark.table("graft_cat_lineitem_b"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("c"))
      val plan = joined.queryExecution.executedPlan.toString
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, s"expected a SortMergeJoin in:\n$plan")
      assert(!plan.substring(joinIdx).contains("Exchange hashpartitioning"), plan)

      val direct = graft.Tables(spark, dir, "orders")
        .join(graft.Tables(spark, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("c"))
        .collect().map(_.mkString("|")).sorted.toSeq
      assert(joined.collect().map(_.mkString("|")).sorted.toSeq == direct)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_cat_orders_b")
      spark.sql("DROP TABLE IF EXISTS graft_cat_lineitem_b")
      cat.close()
    }
  }
}
