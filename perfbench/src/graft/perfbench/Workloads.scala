package graft.perfbench

import graft.operators.{DedupIndex, VecIndex}
import graft.sources.{Scratch, Sinks}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Runs calls into graft as ops: times each from outside, tags its Spark
  * jobs with the op id (so a traced run can attribute them), and turns a
  * throw into a failed op instead of an aborted run. */
final class Runner(val spark: SparkSession) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  private var nextId = 0
  @volatile var tagging = false
  private val prefix = "perfbench-op-"

  def op[A](kind: String, layer: String, fn: String)(body: => A): (OpRec, Option[A]) = {
    val r = new OpRec(nextId, kind, layer, fn)
    nextId += 1
    val sc = spark.sparkContext
    if (tagging) sc.addJobTag(prefix + r.id)
    r.startMs = System.currentTimeMillis()
    r.startNs = System.nanoTime()
    val out =
      try Some(body)
      catch { case e: Throwable if scala.util.control.NonFatal(e) =>
        r.fail(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
        None
      }
    r.endNs = System.nanoTime()
    r.endMs = System.currentTimeMillis()
    if (tagging) sc.removeJobTag(prefix + r.id)
    ops += r
    System.err.println(f"[perfbench] op ${r.id} ${r.kind} ${r.name} ${r.seconds}%.3f s" +
      (if (r.ok) "" else s" FAILED ${r.err}"))
    (r, out)
  }

  /** Untimed work (answer checks, bookkeeping) as an op of kind "check",
    * so its jobs stay attributed in a traced run. A throw fails `owner`. */
  def check[A](owner: OpRec, fn: String)(body: => A): Option[A] = {
    val (r, out) = op("check", "perfbench", fn)(body)
    if (!r.ok) owner.fail(s"check $fn: ${r.err}")
    out
  }

  def mark(): Int = ops.size
}

/** A closed-loop workload. The timed phase is [[reset]], the [[prologue]]
  * ops and round 0; a traced run adds rounds 1 to 3 on the same state. */
trait Workload {
  def reset(): Unit
  def prologue(): Unit = ()
  def round(k: Int): Unit
  /** Run-end facts measured outside the timed window. */
  def finish(): Map[String, Any] = Map.empty
}

object Workload {
  def apply(name: String, rn: Runner, tables: String, data: String, work: String,
      seed: Long, oracle: Option[String]): Workload = name match {
    case "olap_mix" => new OlapMix(rn, tables, seed, oracle.get)
    case "lake_mutate" => new LakeMutate(rn, data, work)
    case "index_ingest" => new IndexIngest(rn, data, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def rm(path: String): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(del)
      f.delete()
    }
    del(new File(path))
  }

  def files(path: String): Seq[File] = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(x => files(x.getPath))
    else if (f.isFile) Seq(f) else Nil
  }

  def bytes(path: String): Long = files(path).map(_.length).sum
}

/** A panel of oracled, read-only SparkEntry queries, the first of each
  * SQL-analytics module, in a seeded order, each served from the warm
  * table cache and checked against the DuckDB oracle digest. */
object OlapMix {
  val modules = Seq("scans", "filters", "joins", "aggregates", "reshape",
    "windows", "sortset", "scalars", "olapclassics", "olapextras", "sqlsurface")

  /** Queries per module in the timed panel. */
  val PerModule = 1

  /** Oracled queries of the modules, less the file-writing families. */
  def candidates: Seq[(String, graft.Q)] =
    graft.SparkEntry.moduleGroups.filter(g => modules.contains(g._1))
      .flatMap { case (m, qs) => qs.map(m -> _) }
      .filter { case (_, q) => q.oracle.isDefined &&
        !q.name.startsWith("q_sink_") && !q.name.startsWith("q_merge_") }
}

final class OlapMix(rn: Runner, tables: String, seed: Long, oraclePath: String)
    extends Workload {
  private val spark = rn.spark
  private val sf = s"$tables/sf0.1"
  private val oracle: Map[String, String] = {
    val j = Json.parse(oraclePath)
    j.fieldNames.asScala.map(n => n -> j.get(n).asText).toMap
  }
  /** The first [[OlapMix.PerModule]] candidates of each module that have
    * an oracle digest. */
  private val panel: Seq[(String, graft.Q)] = {
    val firsts = OlapMix.candidates.filter(x => oracle.contains(x._2.name))
      .groupBy(_._1).values.flatMap(_.take(OlapMix.PerModule)).toSet
    OlapMix.candidates.filter(firsts)
  }
  private val scratchRoots = Seq(sys.props("java.io.tmpdir"),
    spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
  private def listing = scratchRoots.flatMap(Workload.files).map(_.getPath).toSet

  def reset(): Unit = ()

  /** One pass over the panel in an order seeded by (seed, round). */
  def round(k: Int): Unit =
    new scala.util.Random(seed * 1000003L + k).shuffle(panel).foreach(query)

  private def query(mq: (String, graft.Q)): Unit = {
    val (m, q) = mq
    var cols: Seq[String] = Nil
    val before = listing
    val (r, rows) = rn.op("query", s"operators.$m", q.name) {
      val df = q.fn(spark, sf)
      cols = df.columns.toSeq
      df.collect()
    }
    rows.foreach { rs =>
      r.rowsOut = rs.length
      rn.check(r, "digest") {
        val d = Json.digest(cols, rs)
        if (d != oracle(q.name)) r.fail(s"digest mismatch (${rs.length} rows)")
        // olap_mix is read-only: a query that leaves files behind belongs
        // to a writing workload
        if ((listing -- before).nonEmpty) r.fail("query wrote files")
      }
    }
    rn.op("release", "sources.Scratch", "releaseAll")(Scratch.releaseAll())
  }

  override def finish(): Map[String, Any] = Map(
    "queries" -> panel.size, "query_names" -> panel.map(_._2.name))
}

/** The Sparkify ETL over generated JSON, then a merge-on-read table
  * lifecycle on an orders-derived table: base publish, then cycles of
  * upsert, delete, compaction, skip reads and bloom lookups. Every
  * read is checked against the generator's reference state for that
  * cycle. */
final class LakeMutate(rn: Runner, data: String, work: String) extends Workload {
  private val spark = rn.spark
  private val in = s"$data/inputs"
  private val plan = Json.parse(s"$in/plan.json")
  private val cycles = plan.get("cycles")
  private val baseRows = plan.get("base_rows").asLong
  private val facts = Json.parse(s"$data/manifest.json").get("inputs")
  private val root = s"$work/lake"
  private def table = s"$root/orders_lake"
  val userBytes = mutable.ArrayBuffer.empty[Long]
  var compactions = 0
  var etlMatchRatio = 0.0

  def reset(): Unit = {
    Workload.rm(root)
    compactions = 0
    userBytes.clear()
  }

  override def prologue(): Unit = { etl(); base() }

  private def etl(): Unit = {
    val out = s"$root/etl"
    val (r, _) = rn.op("etl", "etl.SparkifyEtl", "run") {
      graft.etl.SparkifyEtl.run(spark, s"$in/song_data", s"$in/log_data", out)
    }
    r.rowsIn = facts.get("log_events").asLong
    rn.check(r, "songplays") {
      val sp = spark.read.parquet(s"$out/songplays")
        .agg(count(lit(1)), count(col("song_id"))).head()
      val plays = facts.get("next_song_plays").asLong
      val matched = facts.get("plays_matching_a_song").asLong
      etlMatchRatio = sp.getLong(1).toDouble / math.max(sp.getLong(0), 1L)
      if (sp.getLong(0) != plays || sp.getLong(1) != matched)
        r.fail(s"songplays ${sp.getLong(0)}/${sp.getLong(1)} != $plays/$matched")
    }
  }

  private def base(): Unit = {
    val (r, _) = rn.op("load", "sources.Sinks", "upsertBatch") {
      Sinks.upsertBatch(spark.read.parquet(s"$in/base.parquet"), table, "key", "seq",
        statsCols = Seq("o_orderdate"), bloomCol = "key")
    }
    userBytes += Workload.bytes(s"$in/base.parquet")
    rn.check(r, "base_rows") {
      val n = Sinks.readTable(spark, table).count()
      if (n != baseRows) r.fail(s"base rows $n != $baseRows")
    }
  }

  private def triple(df: DataFrame): Row =
    df.agg(count(lit(1)), coalesce(sum("key"), lit(0L)), coalesce(sum("seq"), lit(0L))).head()

  private def expect(r: OpRec, got: Option[Row], want: com.fasterxml.jackson.databind.JsonNode): Unit =
    got.foreach { g =>
      val w = (0 until 3).map(want.get(_).asLong)
      val h = (0 until 3).map(g.getLong)
      r.rowsOut = h.head
      if (h != w) r.fail(s"read ${h.mkString("/")} != ${w.mkString("/")}")
    }

  /** Round k: upsert, delete, compaction, then two skip reads and a
    * bloom point lookup. */
  def round(k: Int): Unit = cycle(k).foreach(_())

  private def cycle(k: Int): Seq[() => Unit] = {
    val p = cycles.get(k)
    val batch = f"$in/cycle-$k%03d.parquet"
    val upsert = () => {
      rn.op("commit", "sources.Sinks", "upsertBatchDv") {
        Sinks.upsertBatchDv(spark.read.parquet(batch), table, "key", "seq")
      }
      userBytes += Workload.bytes(batch)
      ()
    }
    val delete = () => {
      rn.op("commit", "sources.Sinks", "deleteWhere") {
        Sinks.deleteWhere(spark, table,
          col("key") % p.get("mod").asLong === p.get("residue").asLong)
      }
      ()
    }
    val skips = p.get("ranges").asScala.toSeq.map { rg => () => {
      val (r, got) = rn.op("read", "sources.Sinks", "readTableSkip") {
        triple(Sinks.readTableSkip(spark, table, "o_orderdate",
          lit(rg.get("lo").asText).cast("timestamp"),
          lit(rg.get("hi").asText).cast("timestamp")))
      }
      expect(r, got, rg.get("expect"))
    } }
    val blooms = p.get("blooms").asScala.toSeq.map { b => () => {
      val keys = b.get("keys").asScala.toSeq.map(_.asLong)
      val (r, got) = rn.op("read", "sources.Sinks", "readTableBloomSkip") {
        triple(Sinks.readTableBloomSkip(spark, table, "key", keys))
      }
      expect(r, got, b.get("expect"))
    } }
    val compact = () => {
      val (_, done) = rn.op("commit", "sources.Sinks", "compactDeletes") {
        Sinks.compactDeletes(spark, table, 0.02, 4)
      }
      if (done.contains(true)) compactions += 1
    }
    Seq[() => Unit](upsert, delete, compact) ++ skips ++ blooms
  }

  override def finish(): Map[String, Any] = {
    val live = Sinks.readTable(spark, table)
    val plain = s"$work/lake-plain"
    Workload.rm(plain)
    live.write.parquet(plain)
    val tableBytes = Workload.bytes(table)
    val liveDir = Sinks.resolveTable(spark, table).stripPrefix("file:")
    Map(
      "space_amp" -> tableBytes.toDouble / math.max(Workload.bytes(plain), 1L),
      "table_bytes" -> tableBytes,
      "live_files" -> Workload.files(liveDir).count(f =>
        f.getName.endsWith(".parquet") && !f.getPath.contains("/_")),
      "deleted_fraction" -> Sinks.deletedFraction(spark, table),
      "compactions" -> compactions,
      "user_bytes" -> userBytes.sum,
      "etl_match_ratio" -> etlMatchRatio)
  }
}

/** Dedup and vector index lifecycle: write both indexes from a seeded base
  * split, then micro-batch ingest cycles (held-out rows plus planted exact
  * and near duplicates), each followed by compaction and probes. */
final class IndexIngest(rn: Runner, data: String, work: String) extends Workload {
  private val spark = rn.spark
  private val in = s"$data/inputs"
  private val plan = Json.parse(s"$in/plan.json").get("batches")
  private val dd = "perfbench_dedup"
  private val vv = "perfbench_vec"
  private val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)

  private def dropTables(): Unit =
    Seq(s"${dd}_tokens", s"${dd}_bands", s"${vv}_sig", s"${vv}_emb")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))

  def reset(): Unit = {
    dropTables()
    Workload.rm(s"$work/index")
    counts.clear()
  }

  override def prologue(): Unit = {
    rn.op("index_write", "operators.DedupIndex", "write") {
      DedupIndex.write(spark.read.parquet(s"$in/docs_base.parquet"), dd) }
    rn.op("index_write", "operators.VecIndex", "write") {
      VecIndex.write(spark.read.parquet(s"$in/emb_base.parquet"), vv) }
  }

  private def ids(node: com.fasterxml.jackson.databind.JsonNode): Set[Long] =
    node.asScala.map(_.asLong).toSet

  /** One ingest cycle on one index, with its answer checks. */
  private def ingest(k: Int, kind: String): Unit = {
    val p = plan.get(k)
    val (layer, table, idCol, batch, exact, near) =
      if (kind == "dedup")
        ("operators.DedupIndex", s"${dd}_tokens", "doc_id", f"$in/docs-$k%03d.parquet",
          ids(p.get("doc_exact")), ids(p.get("doc_near")))
      else
        ("operators.VecIndex", s"${vv}_emb", "vec_id", f"$in/emb-$k%03d.parquet",
          ids(p.get("vec_exact")), ids(p.get("vec_near")))
    val out = s"$work/index/out_$kind"
    val (c0, before) = rn.op("check", "perfbench", "index_rows")(spark.table(table).count())
    val (r, _) = rn.op("ingest", layer, "ingestBatch") {
      val b = spark.read.parquet(batch)
      if (kind == "dedup") DedupIndex.ingestBatch(b, dd, out, k.toLong)
      else VecIndex.ingestBatch(b, vv, out, k.toLong)
    }
    r.rowsIn = p.get(if (kind == "dedup") "doc_rows" else "vec_rows").asLong
    rn.check(r, "admission") {
      val adm = spark.read.parquet(s"$out/batch=$k").select(idCol).collect()
        .map(_.getLong(0)).toSet
      val grew = spark.table(table).count() - before.getOrElse(-1L)
      val leaked = adm.intersect(exact)
      if (leaked.nonEmpty) r.fail(s"planted exact duplicates admitted: ${leaked.take(5)}")
      if (!c0.ok || grew != adm.size) r.fail(s"index grew by $grew, admitted ${adm.size}")
      counts(s"admitted_$kind") += adm.size
      counts(s"planted_$kind") += exact.size + near.size
      counts(s"planted_rejected_$kind") += (exact ++ near).count(x => !adm.contains(x))
    }
  }

  private def probe(k: Int, kind: String): Unit = {
    val p = plan.get(k)
    if (kind == "dedup") {
      val want = p.get("doc_probe").asScala.map(x => x.get(0).asLong -> x.get(1).asLong).toMap
      val (r, got) = rn.op("probe", "operators.DedupIndex", "probe") {
        DedupIndex.probe(spark, dd, spark.read.parquet(f"$in/docs-probe-$k%03d.parquet"))
          .collect()
      }
      got.foreach { rows =>
        r.rowsOut = rows.length
        val hit = rows.map(x => x.getAs[Long]("new_id") ->
          (x.getAs[Long]("n_dups"), x.getAs[Long]("first_dup"))).toMap
        want.foreach { case (id, src) =>
          if (!hit.get(id).exists { case (n, first) => n >= 1 && first <= src })
            r.fail(s"probe $id missed its source $src")
        }
      }
    } else {
      val want = p.get("vec_probe").asScala.map(x => x.get(0).asLong -> x.get(1).asLong).toMap
      val (r, got) = rn.op("probe", "operators.VecIndex", "probe") {
        VecIndex.probe(spark, vv, spark.read.parquet(f"$in/emb-probe-$k%03d.parquet"), k = 3)
          .collect()
      }
      got.foreach { rows =>
        r.rowsOut = rows.length
        val top = rows.filter(_.getAs[Int]("rk") == 1)
          .map(x => x.getAs[Long]("a_id") -> x.getAs[Long]("b_id")).toMap
        want.foreach { case (id, src) =>
          if (!top.get(id).contains(src)) r.fail(s"probe $id rank 1 is ${top.get(id)}, not $src")
        }
      }
    }
  }

  /** Round k: an ingest cycle on each index, both compactions, then a
    * dedup and a vector probe. */
  def round(k: Int): Unit = cycle(k).foreach(_())

  private def cycle(k: Int): Seq[() => Unit] = Seq(
    () => ingest(k, "dedup"), () => ingest(k, "vec"),
    () => { rn.op("compact", "operators.DedupIndex", "compactIndex")(
      DedupIndex.compactIndex(spark, dd)); () },
    () => { rn.op("compact", "operators.VecIndex", "compactIndex")(
      VecIndex.compactIndex(spark, vv)); () },
    () => probe(k, "dedup"), () => probe(k, "vec"))

  private def tableFiles(t: String): Int = {
    val loc = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t)).location
    Workload.files(new File(loc).getPath).count(_.getName.endsWith(".parquet"))
  }

  override def finish(): Map[String, Any] = Map(
    "dedup_index_rows" -> spark.table(s"${dd}_tokens").count(),
    "vec_index_rows" -> spark.table(s"${vv}_emb").count(),
    "dedup_index_files" -> (tableFiles(s"${dd}_tokens") + tableFiles(s"${dd}_bands")),
    "vec_index_files" -> (tableFiles(s"${vv}_sig") + tableFiles(s"${vv}_emb"))) ++ counts
}
