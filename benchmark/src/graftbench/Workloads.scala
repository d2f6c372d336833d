package graftbench

import java.nio.file.{Files, Path}
import java.sql.DriverManager

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Graft, SparkEntry, Tables}
import graft.catalog.{JdbcCatalog, SchemaCatalog}
import graft.ops.{Jdbc, Writers}

/** What every workload is given. `dbs` is Derby's system home: database
  * names are relative to it, so no URL carries a filesystem path. */
final case class Ctx(spark: SparkSession, data: String, runDir: Path, dbs: Path,
                     seed: Long, smoke: Boolean)

/** One timed pass: wall seconds of the public calls, per-step seconds,
  * and the rows the pass moved or produced. */
final case class Pass(seconds: Double, steps: Seq[(String, Double)], rows: Long)

/** Times named steps of a pass; each step is also a span. */
final class Steps {
  val buf = mutable.ArrayBuffer.empty[(String, Double)]
  def apply[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = Trace.span(name)(body)
    buf += name -> (System.nanoTime() - t0) / 1e9
    r
  }
  def total: Double = buf.iterator.map(_._2).sum
}

trait Workload {
  def setup(): Unit
  /** Run pass `i`; only the public calls are inside the timed steps. */
  def pass(i: Int): Pass
  /** Output check of pass `i`: one entry per mismatch. Every pass gets
    * the plain check; the last one also the `full` (content) check. */
  def check(i: Int, full: Boolean): Seq[String]
  /** Checked operations per pass (the denominator of fail_frac). */
  def opsPerPass: Int
  /** Whether the last pass gets a `check(i, full = true)` as well. */
  def hasFullCheck: Boolean = true
  /** Per-layer readings of the last checked pass (units in `Main.perLayer`). */
  def layers: Map[String, Double] = Map.empty
  def cleanup(i: Int): Unit = ()
}

/** Order-insensitive content digest of a frame: row count plus the sum
  * and xor of a 64-bit hash of every row rendered as strings (columns
  * by name, nulls marked), so a JDBC round trip compares equal to its
  * parquet source. */
object Digest {
  type D = (Long, BigDecimal, Long)

  /** Digests of several frames in one job: tag → digest. */
  def all(frames: Seq[(String, DataFrame)]): Map[String, D] = {
    val hashed = frames.map { case (tag, df) =>
      val cols = df.columns.sorted.map(c => coalesce(col(c).cast("string"), lit("\u0000null")))
      df.select(lit(tag).as("tag"), xxhash64(cols.toIndexedSeq: _*).as("h"))
    }
    val got = hashed.reduce(_ unionByName _).groupBy("tag")
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), BigDecimal(r.getDecimal(2)), r.getLong(3)): D)).toMap
    frames.map { case (tag, _) => tag -> got.getOrElse(tag, (0L, BigDecimal(0), 0L)) }.toMap
  }
}

object Derby {
  def url(name: String, create: Boolean = false): String =
    s"jdbc:derby:$name${if (create) ";create=true" else ""}"

  def shutdown(name: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:$name;shutdown=true").close()
    catch { case _: java.sql.SQLException => () } // 08006 is the normal answer

  def count(name: String, table: String): Long = {
    val conn = DriverManager.getConnection(url(name))
    try {
      val rs = conn.createStatement().executeQuery(s"""SELECT COUNT(*) FROM "$table"""")
      rs.next()
      rs.getLong(1)
    } finally conn.close()
  }

  def boot(name: String): Unit = DriverManager.getConnection(url(name)).close()
}

object Dirs {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
    finally s.close()
  }
  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { x =>
      val d = to.resolve(from.relativize(x).toString)
      if (Files.isDirectory(x)) Files.createDirectories(d) else Files.copy(x, d)
    } finally s.close()
  }
  /** (bytes, regular files) under `p`. */
  def size(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      var bytes, files = 0L
      s.filter(Files.isRegularFile(_)).forEach { x => bytes += Files.size(x); files += 1 }
      (bytes, files)
    } finally s.close()
  }
}

/** The walk paths, seeded root customers, and the selection they
  * should produce, computed with plain joins (independent of
  * `TreeWalk`). */
object Tree {
  val paths = Seq("customer->orders.o_custkey", "orders->lineitem.l_orderkey")
  val tables = Seq("customer", "orders", "lineitem")

  def customerIds(ctx: Ctx): IndexedSeq[Long] =
    Tables.load(ctx.spark, ctx.data, "customer").select("c_custkey").collect()
      .map(_.getLong(0)).sorted.toIndexedSeq

  /** `n` distinct ids drawn with the workload seed. */
  def draw(ids: IndexedSeq[Long], n: Int, rnd: Random): Seq[Long] =
    rnd.shuffle(ids).take(math.min(n, ids.size)).sorted

  def selection(ctx: Ctx, roots: Seq[Long]): Map[String, DataFrame] = {
    val load = Tables.load(ctx.spark, ctx.data, _: String)
    val c = load("customer").filter(col("c_custkey").isin(roots: _*))
    val o = load("orders").join(c.select(col("c_custkey").as("k")), col("o_custkey") === col("k"), "left_semi")
    val l = load("lineitem").join(o.select(col("o_orderkey").as("k")), col("l_orderkey") === col("k"), "left_semi")
    Map("customer" -> c, "orders" -> o, "lineitem" -> l)
  }
}

/** The paper's pipeline, then incremental writes on its result.
  *
  * Each pass: catalog of the parquet tables → `Graft.copyTree` along
  * customer → orders → lineitem from seeded root customers into a dump
  * (parquet payloads + manifest) → `Jdbc.replay` into a fresh Derby
  * database → `SchemaCatalog.fromJdbc` on it; then, against that live
  * target, `Graft.update` of a seeded `orders` delta (half changed
  * keys, half new) and `Graft.deleteTree` of a seeded subset of the
  * roots. The first half is bulk JDBC appends, the second row at a time
  * (per-row UPDATE, batched DELETE) on tables without keys.
  *
  * Checks: after every pass the row counts of the replayed and of the
  * synced target; on the first pass also the content digest of the
  * replayed target against the selected source rows, and on the first
  * and last the digest of the synced target against
  * `Writers.upsert`/`Writers.deleteByPk` applied to those rows. The
  * expected selection comes from plain joins, not from `TreeWalk`.
  */
final class Pipeline(ctx: Ctx) extends Workload {
  private val nRoots = if (ctx.smoke) 20 else 200
  private val nDelete = if (ctx.smoke) 3 else 5
  private val nDelta = if (ctx.smoke) 10 else 40
  private val g = new Graft(ctx.spark, ctx.data)
  private var roots: Seq[Long] = Nil
  private var deleteRoots: Seq[Long] = Nil
  private var delta: DataFrame = _
  private var deltaRows = 0
  private var inserted = 0
  // digests of the selection (= the replayed target), of the synced
  // target, and the walk's distinct lineitem keys
  private lazy val expected: Map[String, Digest.D] = {
    val sel = Tree.selection(ctx, roots)
    val del = Tree.selection(ctx, deleteRoots)
    val delOrders = del("orders").select("o_orderkey")
    val synced = Map(
      "customer" -> Writers.deleteByPk(sel("customer"), del("customer").select("c_custkey"), "c_custkey"),
      "orders" -> Writers.deleteByPk(Writers.upsert(sel("orders"), delta, "o_orderkey"), delOrders, "o_orderkey"),
      "lineitem" -> Writers.deleteByPk(sel("lineitem"), delOrders, "l_orderkey"))
    val deletedKeys = Map("customer" -> del("customer").select("c_custkey"), "orders" -> delOrders,
      "lineitem" -> del("lineitem").select("l_orderkey").distinct())
    Digest.all(Tree.tables.map(t => s"copied.$t" -> sel(t)) ++ Tree.tables.map(t => s"synced.$t" -> synced(t)) ++
      Tree.tables.map(t => s"deleted.$t" -> deletedKeys(t)) :+
      ("keys.lineitem" -> sel("lineitem").select("l_orderkey").distinct()))
  }
  private def expectedKeys(t: String): Long =
    expected(if (t == "lineitem") "keys.lineitem" else s"copied.$t")._1
  private val replayed = mutable.Map.empty[Int, Map[String, Long]]
  private val sels = mutable.Map.empty[Int, Seq[graft.model.Selection]]
  private val cats = mutable.Map.empty[Int, JdbcCatalog]
  private var last: Map[String, Double] = Map.empty
  private var walkKeys: Map[String, Double] = Map.empty
  val opsPerPass = 6

  private def dump(i: Int) = ctx.runDir.resolve(s"dump_$i")
  private def db(i: Int) = s"db_$i"
  private def copyOf(i: Int) = s"db_${i}_replayed"

  def setup(): Unit = {
    val rnd = new Random(ctx.seed)
    roots = Tree.draw(Tree.customerIds(ctx), nRoots, rnd)
    deleteRoots = rnd.shuffle(roots).take(nDelete).sorted
    // the delta: half the roots' orders with changed values, half new keys
    val orders = Tree.selection(ctx, roots)("orders").orderBy("o_orderkey").collect().toIndexedSeq
    val maxKey = Tables.load(ctx.spark, ctx.data, "orders").agg(max("o_orderkey")).head().getLong(0)
    val schema = Tables.load(ctx.spark, ctx.data, "orders").schema
    val idx = schema.fieldNames.zipWithIndex.toMap
    def changed(r: Row, key: Long, cust: Long): Row = {
      val v = r.toSeq.toArray
      v(idx("o_orderkey")) = key
      v(idx("o_custkey")) = cust
      v(idx("o_orderstatus")) = Seq("F", "O", "P")(rnd.nextInt(3))
      v(idx("o_totalprice")) = math.rint(rnd.nextDouble() * 1e7) / 100
      Row.fromSeq(v.toSeq)
    }
    val upd = rnd.shuffle(orders).take(nDelta / 2).map(r =>
      changed(r, r.getAs[Long]("o_orderkey"), r.getAs[Long]("o_custkey")))
    val ins = (1 to nDelta - upd.size).map(k =>
      changed(orders(rnd.nextInt(orders.size)), maxKey + k, roots(rnd.nextInt(roots.size))))
    deltaRows = upd.size + ins.size
    inserted = ins.size
    delta = ctx.spark.createDataFrame(java.util.Arrays.asList(upd ++ ins: _*), schema)
  }

  def pass(i: Int): Pass = {
    val s = new Steps
    s("SchemaCatalog.tableDefs") { new SchemaCatalog(ctx.spark, ctx.data).tableDefs }
    sels(i) = s("Graft.copyTree") {
      val target = g.fileTarget(dump(i).toString)
      try g.copyTree(target, Tree.paths, "customer", roots) finally target.close()
    }
    s("Jdbc.replay") { Jdbc.replay(ctx.spark, dump(i).toString, Derby.url(db(i), create = true)) }
    cats(i) = s("SchemaCatalog.fromJdbc") { SchemaCatalog.fromJdbc(Derby.url(db(i))) }
    // untimed: what the replay landed, kept for the check
    replayed(i) = Tree.tables.map(t => t -> Derby.count(db(i), t)).toMap
    if (i == 0) {
      Derby.shutdown(db(i))
      Dirs.copy(ctx.dbs.resolve(db(i)), ctx.dbs.resolve(copyOf(i)))
      Derby.boot(db(i))
    }
    val target = g.dbTarget(Derby.url(db(i)))
    try {
      s("Graft.update") { g.update(target, "orders", delta, "o_orderkey") }
      s("Graft.deleteTree") { g.deleteTree(target, Tree.paths, "customer", deleteRoots) }
    } finally target.close()
    val landed = replayed(i).values.sum
    val synced = Tree.tables.map(t => Derby.count(db(i), t)).sum
    val deleted = landed + inserted - synced
    val t = s.buf.toMap
    last = Map(
      "catalog.parquet_s" -> t("SchemaCatalog.tableDefs"),
      "copy_tree.s" -> t("Graft.copyTree"),
      "replay.s" -> t("Jdbc.replay"),
      "catalog.jdbc_s" -> t("SchemaCatalog.fromJdbc"),
      "replay.rows" -> landed.toDouble,
      "replay.rows_per_s" -> landed / t("Jdbc.replay"),
      "sync.update_s" -> t("Graft.update"),
      "sync.update_ms_per_row" -> t("Graft.update") * 1e3 / deltaRows,
      "sync.delete_tree_s" -> t("Graft.deleteTree"))
    Pass(s.total, s.buf.toSeq, landed + deltaRows + deleted)
  }

  /** Row counts always; `full` checks the synced target's content
    * instead. The first pass's plain check also compares the replayed
    * target's content and the walk's key counts. */
  def check(i: Int, full: Boolean): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    def contents(d: String, tag: String): Map[String, Digest.D] =
      Digest.all(Tree.tables.map(t => s"$tag.$t" -> Jdbc.read(ctx.spark, Derby.url(d), t)))
    if (full) contents(db(i), "synced").foreach { case (k, d) =>
      if (d != expected(k)) bad += s"pass $i: $k differs from the writers' upsert/delete of the replayed rows"
    } else {
      val cat = cats(i)
      if (!Tree.tables.forall(cat.tables.contains))
        bad += s"pass $i: fromJdbc found ${cat.tables.mkString(",")}"
      Tree.tables.foreach { t =>
        val (n, want) = (replayed(i)(t), expected(s"copied.$t")._1)
        if (n != want) bad += s"pass $i: replay landed $n $t rows, expected $want"
        val (m, left) = (Derby.count(db(i), t), expected(s"synced.$t")._1)
        if (m != left) bad += s"pass $i: sync left $m $t rows, expected $left"
      }
      val (bytes, files) = Dirs.size(dump(i))
      val keysDeleted = Tree.tables.map(t => expected(s"deleted.$t")._1).sum
      last ++= Map(
        "sync.delete_ms_per_key" -> last("sync.delete_tree_s") * 1e3 / keysDeleted,
        "catalog.tables" -> cat.tables.size.toDouble,
        "dump.bytes" -> bytes.toDouble,
        "dump.files" -> files.toDouble,
        "dump.bytes_per_row" -> bytes / replayed(i).values.sum.toDouble)
      if (i == 0) {
        contents(copyOf(i), "copied").foreach { case (k, d) =>
          if (d != expected(k)) bad += s"pass $i: replayed ${k.stripPrefix("copied.")} differs from the selected source rows"
        }
        val keys = Digest.all(sels(i).map(sel => sel.table -> sel.keys)).map { case (t, d) => t -> d._1 }
        Tree.tables.foreach { t =>
          if (!keys.get(t).contains(expectedKeys(t)))
            bad += s"pass $i: walk selected ${keys.get(t)} $t keys, expected ${expectedKeys(t)}"
        }
        walkKeys = keys.map { case (t, n) => s"walk.keys.$t" -> n.toDouble }
      }
      last ++= walkKeys
    }
    bad.toSeq
  }

  override def layers: Map[String, Double] = last

  override def cleanup(i: Int): Unit = {
    sels.remove(i); cats.remove(i); replayed.remove(i)
    Seq(db(i), copyOf(i)).foreach { d =>
      Derby.shutdown(d)
      Dirs.delete(ctx.dbs.resolve(d))
    }
    Dirs.delete(dump(i))
  }
}

/** A fixed list of `SparkEntry` queries, each counted under its own job
  * group; the row count of every query is checked against the value
  * stored with the benchmark. */
final class Suite(ctx: Ctx, val queries: Seq[String], expectedRows: Map[String, Long],
                  record: Boolean) extends Workload {
  private val fns = SparkEntry.queries
  private val got = mutable.Map.empty[Int, Map[String, Long]]
  private val errors = mutable.Map.empty[Int, Seq[String]]
  val opsPerPass: Int = queries.size

  def setup(): Unit = {
    val missing = queries.filterNot(fns.contains) ++
      (if (record) Nil else queries.filterNot(expectedRows.contains))
    require(missing.isEmpty, s"unknown query or no expected row count: ${missing.distinct.mkString(",")}")
  }

  def pass(i: Int): Pass = {
    val sc = ctx.spark.sparkContext
    val s = new Steps
    val counts = mutable.LinkedHashMap.empty[String, Long]
    val errs = mutable.ArrayBuffer.empty[String]
    queries.foreach { q =>
      sc.setJobGroup(q, q)
      try s(q) { counts(q) = fns(q)(ctx.spark, ctx.data).count() }
      catch { case e: Exception => errs += s"pass $i: $q failed: $e" }
      finally {
        sc.clearJobGroup()
        // every block a query pinned is dead once its count returns
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
    }
    got(i) = counts.toMap
    errors(i) = errs.toSeq
    Pass(s.total, s.buf.toSeq, counts.values.sum)
  }

  override def hasFullCheck: Boolean = false

  def check(i: Int, full: Boolean): Seq[String] =
    errors.remove(i).getOrElse(Nil) ++ got.getOrElse(i, Map.empty).collect {
      case (q, n) if !record && n != expectedRows(q) => s"pass $i: $q returned $n rows, expected ${expectedRows(q)}"
    }

  /** Row counts of every query, for refreshing the stored expectations. */
  def counts(i: Int): Map[String, Long] = got.getOrElse(i, Map.empty)
}
