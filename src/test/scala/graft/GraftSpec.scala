package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.model.Operation._
import graft.ops.{DumpStore, Jdbc}

/** End-to-end tests of the user-facing DSL facade: the reference's
  * script verbs against both target kinds. */
class GraftSpec extends SparkSpec {
  import spark.implicits._

  private def freshDb(): String =
    s"jdbc:derby:${Files.createTempDirectory("graft-derby").toString}/db;create=true"

  test("driver entry point returns rows (smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("copyTree → file target: manifest ops + payloads with exact cardinality") {
    val dump = Files.createTempDirectory("graft-dump").toString
    val g = new Graft(spark, sf)
    val target = g.fileTarget(dump)
    val sels = g.copyTree(target, Seq("customer->orders.o_custkey"), "customer", 1L to 10L)
    target.close()
    val ops = DumpStore.readManifest(spark, dump)
    assert(ops.map(_.kind) == Seq("table_load", "table_load"))
    val expectedOrders = load("orders").filter(col("o_custkey").between(1, 10)).count()
    assert(spark.read.parquet(s"$dump/payloads/orders_1").count() == expectedOrders)
    assert(sels.map(_.table) == Seq("customer", "orders"))
  }

  test("copyTree through lineitem's non-unique stand-in key: invariant holds " +
    "on distinct coverage, many rows per key export cleanly") {
    val dump = Files.createTempDirectory("graft-dump").toString
    val g = new Graft(spark, sf)
    val target = g.fileTarget(dump)
    val sels = g.copyTree(target,
      Seq("customer->orders.o_custkey", "orders->lineitem.l_orderkey"),
      "customer", 1L to 10L)
    target.close()
    val expectedRows = load("lineitem").join(
      load("orders").filter(col("o_custkey").between(1, 10)).select("o_orderkey"),
      col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    val got = spark.read.parquet(s"$dump/payloads/lineitem_2")
    assert(got.count() == expectedRows)
    // more rows than keys — the raw-count invariant would have errored
    assert(expectedRows > sels.last.keys.count())
  }

  test("copyTree and exportSelections agree on a duplicated root id row") {
    // a source whose root table lists customer 3 twice: the root keys
    // hold 3 twice, but every distinct key has its rows
    val dir = Files.createTempDirectory("graft-duproot").toString
    load("customer").filter($"c_custkey" <= 5)
      .unionByName(load("customer").filter($"c_custkey" === 3))
      .write.parquet(s"$dir/customer.parquet")
    load("orders").write.parquet(s"$dir/orders.parquet")
    val g = new Graft(spark, dir)
    val path = Seq("customer->orders.o_custkey")
    val dump = Files.createTempDirectory("graft-dump").toString
    val target = g.fileTarget(dump)
    g.copyTree(target, path, "customer", 1L to 5L)
    target.close()
    assert(spark.read.parquet(s"$dump/payloads/customer_0").count() == 6)
    val expectedOrders = load("orders").filter($"o_custkey".between(1, 5)).count()
    assert(spark.read.parquet(s"$dump/payloads/orders_1").count() == expectedOrders)
    val loader = (t: String) => Tables.load(spark, dir, t)
    val sels = graft.ops.TreeWalk.selectAlongPath(spark, loader, path,
      graft.catalog.SchemaCatalog.walkPks, "customer", 1L to 5L)
    val exported = Files.createTempDirectory("graft-export").toString
    try DumpStore.exportSelections(spark, loader, sels, exported)
    finally graft.ops.TreeWalk.release(sels)
    assert(spark.read.parquet(s"$exported/payloads/customer_0").count() == 6)
  }

  test("copyTree releases its cached key levels on completion") {
    val dump = Files.createTempDirectory("graft-dump").toString
    val g = new Graft(spark, sf)
    val target = g.fileTarget(dump)
    val sels = g.copyTree(target, Seq("customer->orders.o_custkey"), "customer", 1L to 5L)
    target.close()
    assert(sels.forall(_.keys.storageLevel == org.apache.spark.storage.StorageLevel.NONE),
      "persisted key levels must be unpersisted after the walk completes")
  }

  test("copy + update + deleteTree → live database target") {
    val url = freshDb()
    val g = new Graft(spark, sf)
    val target = g.dbTarget(url)

    // full copy of two tables (DDL + data)
    g.copy(target, Seq("customer", "orders"), order = Seq("customer", "orders"))
    assert(Jdbc.read(spark, url, "customer").count() == load("customer").count())
    assert(Jdbc.read(spark, url, "orders").count() == load("orders").count())

    // upsert a delta
    val delta = load("customer").filter($"c_custkey" <= 5)
      .withColumn("c_name", concat(lit("upd_"), $"c_name"))
    g.update(target, "customer", delta, "c_custkey")
    assert(Jdbc.read(spark, url, "customer")
      .filter($"c_name".startsWith("upd_")).count() == delta.count())

    // delete tree: customers 1..3 and their orders, children first
    g.deleteTree(target, Seq("customer->orders.o_custkey"), "customer", 1L to 3L)
    assert(Jdbc.read(spark, url, "customer").filter($"c_custkey".between(1, 3)).count() == 0)
    assert(Jdbc.read(spark, url, "orders").filter($"o_custkey".between(1, 3)).count() == 0)
    val total = load("customer").count() - 3
    assert(Jdbc.read(spark, url, "customer").count() == total)
    target.close()
  }

  test("executeSql routes raw statements through the target") {
    val url = freshDb()
    val g = new Graft(spark, sf)
    val target = g.dbTarget(url)
    g.executeSql(target, Seq("CREATE TABLE raw_t (x INT)", "INSERT INTO raw_t VALUES (42)"))
    val c = java.sql.DriverManager.getConnection(url)
    val rs = c.createStatement().executeQuery("SELECT x FROM raw_t")
    rs.next(); assert(rs.getInt(1) == 42); c.close()
  }

  test("production guard blocks dbTarget construction") {
    val g = new Graft(spark, sf)
    intercept[RuntimeException](g.dbTarget("jdbc:derby://prodhost/db"))
  }
}
