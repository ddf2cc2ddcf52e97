package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.TxnLog

/** One `events` row as the model keeps it. */
final case class Ev(id: Long, tsMicros: Long, user: Long, etype: String, value: Double,
    props: String)

/** The order-free digest both sides compute over a set of rows: every
  * column contributes, so a lost, duplicated or wrongly updated row
  * changes it. */
final case class Digest(n: Long, ids: Long, users: Long, cents: Long, chars: Long, ts: Long)

object Digest {
  val Exprs: Seq[String] = Seq("count(1)", "coalesce(sum(event_id), 0L)",
    "coalesce(sum(user_id), 0L)", "coalesce(sum(cast(round(value * 100) AS BIGINT)), 0L)",
    "coalesce(sum(length(event_type) + length(props)), 0L)",
    "coalesce(sum(unix_micros(ts) % 1000003), 0L)")

  def of(rows: Iterable[Ev]): Digest = rows.foldLeft(Digest(0, 0, 0, 0, 0, 0)) { (d, e) =>
    Digest(d.n + 1, d.ids + e.id, d.users + e.user, d.cents + math.round(e.value * 100),
      d.chars + e.etype.length + e.props.length, d.ts + e.tsMicros % 1000003)
  }

  def ofRow(r: Row): Digest =
    Digest(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))

  def compute(df: DataFrame): Digest = ofRow(df.selectExpr(Exprs: _*).head())
}

/** `txn_mixed`: a TxnLog table seeded from the lake's `events`, then a
  * seeded sequence of write and read verbs, about two writes per read,
  * issued by one closed-loop client. The sequence is dealt in
  * [[TxnMixed.Deck]]s, about [[TxnMixed.OpsPerSecond]] operations per
  * second of `--seconds`; one deck is one pass over the operation list.
  *
  * The harness keeps a model of the table: the row set at every
  * committed version. Each read's digest is compared with the model's,
  * outside the timed interval; a mismatch fails the operation. */
final class TxnMixed extends Workload {
  import TxnMixed._

  private var seedRows: Vector[Ev] = Vector.empty

  private def root(a: Main.Args) = s"${a.runDir}/txn"
  private def table(a: Main.Args) = s"${root(a)}/ns/events_t"

  override def confs(a: Main.Args): Map[String, String] = Map(
    "spark.sql.catalog.lake" -> "graft.sources.GraftCatalog",
    "spark.sql.catalog.lake.root" -> root(a),
    "spark.sql.catalog.lake.writable" -> "true")

  def setup(spark: SparkSession, a: Main.Args): Unit = {
    deleteTree(new File(root(a)))
    val events = graft.sources.Tables.events(spark, a.lake).orderBy("event_id").limit(SeedRows)
    // Several files, split by key range, so row verbs touch a few files
    // and compaction has small files to merge.
    TxnLog.create(spark, table(a), events.repartitionByRange(SeedFiles, col("event_id")))
    if (seedRows.isEmpty)
      seedRows = events.selectExpr("event_id", "unix_micros(ts)", "user_id", "event_type",
        "value", "props").collect().iterator
        .map(r => Ev(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4),
          r.getString(5))).toVector
    // Preheat the read path once.
    Digest.compute(TxnLog.read(spark, table(a)))
  }

  override def teardown(spark: SparkSession, a: Main.Args): Unit = deleteTree(new File(root(a)))

  def run(spark: SparkSession, a: Main.Args, t: Tracer, midCalib: () => Unit): Map[String, Any] = {
    val tbl = table(a)
    val rng = new scala.util.Random(a.seed)
    val nDecks = math.max(1, math.round(OpsPerSecond * a.seconds / Deck.size).toInt)
    val nOps = nDecks * Deck.size
    val model = mutable.ArrayBuffer(seedRows.iterator.map(e => e.id -> e).toMap)
    var nextId = seedRows.map(_.id).max + 1
    val tsBase = seedRows.map(_.tsMicros).max
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val verbStats = mutable.LinkedHashMap.empty[String, mutable.Map[String, Double]]
    def addVerb(v: String, k: String, x: Double): Unit =
      verbStats.getOrElseUpdate(v, mutable.Map.empty.withDefaultValue(0.0))(k) += x
    var userBytes = 0L
    var tipS, asofS = 0.0
    var tipN, asofN = 0
    val startBytes = treeBytes(new File(tbl))
    val startLogBytes = treeBytes(new File(tbl, "_log"))
    val startCkpts = checkpoints(tbl)
    var sqlMerge = false

    def freshRows(n: Int): Seq[Ev] = (0 until n).map { _ =>
      val e = Ev(nextId, tsBase + rng.nextInt(1000000000).toLong, rng.nextInt(1500).toLong,
        EventTypes(rng.nextInt(EventTypes.size)), math.round(rng.nextDouble() * 50000) / 100.0,
        s"""{"k": ${rng.nextInt(100)}}""")
      nextId += 1
      e
    }
    def toDf(rows: Seq[Ev]): DataFrame = {
      import spark.implicits._
      rows.map(e => (e.id, e.tsMicros, e.user, e.etype, e.value, e.props))
        .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
        .selectExpr("event_id", "timestamp_micros(ts_us) AS ts", "user_id", "event_type",
          "value", "props")
    }
    def rowBytes(rows: Seq[Ev]): Long =
      rows.iterator.map(e => 32L + e.etype.length + e.props.length).sum
    def cur = model.last
    def idRange(): (Long, Long) = {
      val lo = (rng.nextDouble() * nextId).toLong
      (lo, lo + RangeKeys - 1)
    }
    // Upserts hit a run of neighbouring keys, so each touches few files.
    def existing(n: Int): Seq[Long] = {
      val (lo, _) = idRange()
      cur.keysIterator.filter(id => id >= lo && id < lo + 2 * n).toSeq.sorted.take(n)
    }

    // Dealt like card decks: every deck holds the same verbs, the seed
    // shuffles each one and draws each verb's rows, keys and versions, so
    // every seed runs the same mix and the table evolves alike.
    val verbs = Seq.fill(nDecks)(rng.shuffle(Deck)).flatten
    val wall0 = System.nanoTime()
    verbs.zipWithIndex.foreach { case (verb, i) =>
      if (i == nOps / 2) midCalib()
      val op = f"op$i%04d"
      val isWrite = Writes.contains(verb)
      var ok = true
      var lat = 0.0
      t.outer(op, "op", -1) { opSpan => try {
        val before = if (isWrite) treeBytes(new File(tbl)) else 0L
        if (isWrite) {
          // Inputs and the expected next state are prepared untimed.
          val (next, body, bytes): (Map[Long, Ev], () => Unit, Long) = verb match {
            case "append" =>
              val rows = freshRows(AppendRows)
              val df = toDf(rows)
              (cur ++ rows.map(e => e.id -> e), () => TxnLog.append(spark, tbl, df), rowBytes(rows))
            case "merge" =>
              val upd = existing(MergeRows).map(id => cur(id).copy(
                value = math.round(rng.nextDouble() * 50000) / 100.0, props = """{"k": -1}"""))
              val rows = upd ++ freshRows(MergeRows)
              val df = toDf(rows)
              (cur ++ rows.map(e => e.id -> e), () => TxnLog.merge(spark, tbl, df, "event_id"),
                rowBytes(rows))
            case "delete_mor" =>
              val (lo, hi) = idRange()
              (cur.filterNot { case (id, _) => id >= lo && id <= hi },
                () => TxnLog.deleteMoR(spark, tbl, col("event_id").between(lo, hi)), 0L)
            case "update_mor" =>
              val (lo, hi) = idRange()
              (cur.map { case (id, e) =>
                id -> (if (id >= lo && id <= hi) e.copy(value = e.value + 1.0) else e) },
                () => TxnLog.updateMoR(spark, tbl, col("event_id").between(lo, hi),
                  Map("value" -> (col("value") + 1.0))), 0L)
            case "sql_dml" if !sqlMerge =>
              sqlMerge = true
              val (lo, hi) = idRange()
              (cur.map { case (id, e) =>
                id -> (if (id >= lo && id <= hi) e.copy(value = e.value + 2.0) else e) },
                () => spark.sql(s"UPDATE lake.ns.events_t SET value = value + 2.0 " +
                  s"WHERE event_id BETWEEN $lo AND $hi"), 0L)
            case "sql_dml" =>
              sqlMerge = false
              val upd = existing(MergeRows / 2).map(id => cur(id).copy(props = """{"k": -2}"""))
              val rows = upd ++ freshRows(MergeRows / 2)
              toDf(rows).createOrReplaceTempView("perfbench_src")
              (cur ++ rows.map(e => e.id -> e), () => spark.sql(
                """MERGE INTO lake.ns.events_t t USING perfbench_src s
                  |ON t.event_id = s.event_id
                  |WHEN MATCHED THEN UPDATE SET *
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin), rowBytes(rows))
            case "compact_small" =>
              (cur, () => TxnLog.compactSmall(spark, tbl, SmallFileBytes, 1), 0L)
          }
          val v0 = TxnLog.latestVersion(spark, tbl)
          val (_, s, _) = t.timed(op, verb, opSpan, s"$op|$verb") {
            CountingFileSystem.inPhase("commit")(body())
          }
          lat = s
          userBytes += bytes
          val v1 = TxnLog.latestVersion(spark, tbl)
          if (v1 == v0 + 1) model += next
          else if (v1 != v0 || next != cur) {
            ok = false
            System.err.println(s"[perfbench] $verb moved the log from $v0 to $v1")
            (v0 + 1 to v1).foreach(_ => model += next)
          }
          addVerb(verb, "bytes_written", (treeBytes(new File(tbl)) - before).toDouble)
        } else {
          val latest = model.size - 1
          val (build, expect): (() => DataFrame, Digest) = verb match {
            case "read_tip" =>
              (() => TxnLog.read(spark, tbl), Digest.of(cur.values))
            case "read_pruned" =>
              val (lo, hi0) = idRange()
              val hi = hi0 + 20 * RangeKeys
              (() => TxnLog.readPruned(spark, tbl, "event_id", lo, hi),
                Digest.of(cur.valuesIterator.filter(e => e.id >= lo && e.id <= hi).toSeq))
            case "read_asof" =>
              val v = rng.nextInt(latest + 1)
              (() => TxnLog.read(spark, tbl, Some(v.toLong)), Digest.of(model(v).values))
            case "changes" =>
              // A change feed reader catching up on recent commits.
              val v1 = rng.nextInt(latest + 1)
              val v0 = math.max(0, v1 - 1 - rng.nextInt(ChangesSpan))
              val (from, to) = (model(v0), model(v1))
              val ins = to.values.filter(e => !from.get(e.id).contains(e))
              val del = from.values.filter(e => !to.get(e.id).contains(e))
              (() => TxnLog.changes(spark, tbl, v0.toLong, v1.toLong),
                Digest.of(ins ++ del).copy(n = ins.size.toLong * 1000003L + del.size))
          }
          val (got, s) = t.outer(op, verb, opSpan) { pid =>
            CountingFileSystem.inPhase("read") {
              val (df, snap, _) = t.timed(op, "snapshot", pid, s"$op|snapshot")(build())
              if (verb == "read_tip") { tipS += snap; tipN += 1 }
              if (verb == "read_asof") { asofS += snap; asofN += 1 }
              val (d, _, _) = t.timed(op, "action", pid, s"$op|$verb") {
                if (verb == "changes") {
                  val r = Digest.ofRow(df.selectExpr(Digest.Exprs: _*).head())
                  val n = df.groupBy("_change").count().collect()
                    .map(x => x.getString(0) -> x.getLong(1)).toMap
                  r.copy(n = n.getOrElse("insert", 0L) * 1000003L + n.getOrElse("delete", 0L))
                } else Digest.compute(df)
              }
              d
            }
          }
          lat = s
          if (got != expect) {
            ok = false
            System.err.println(s"[perfbench] $verb digest $got, model $expect")
          }
        }
      } catch {
        case e: Throwable =>
          ok = false
          System.err.println(s"[perfbench] $verb failed: $e")
      } }
      addVerb(verb, "s", lat)
      addVerb(verb, "n", 1)
      addVerb(verb, "jobs", t.jobsOf(op).toDouble)
      ops += Map("name" -> verb, "kind" -> (if (isWrite) "write" else "read"),
        "latency_s" -> lat, "ok" -> ok, "pass" -> i / Deck.size)
    }
    val deckS = ops.grouped(Deck.size).map(_.map(_("latency_s").asInstanceOf[Double]).sum).toSeq
    val commits = model.size - 1
    // Snapshot paths are relative to the table directory.
    val liveBytes = TxnLog.snapshot(spark, tbl).iterator.map(p => new File(tbl, p).length).sum
    val endBytes = treeBytes(new File(tbl))
    Map("ops" -> ops.toSeq, "pass_s" -> deckS, "ops_per_pass" -> Deck.size,
      "timed_wall_s" -> (System.nanoTime() - wall0) / 1e9,
      "write_amp" -> (endBytes - startBytes).toDouble / math.max(1L, userBytes),
      "space_amp" -> endBytes.toDouble / math.max(1L, liveBytes),
      "layer_txn" -> (verbStats.toSeq.flatMap { case (v, m) =>
        val n = math.max(1.0, m("n"))
        Seq(s"txn.$v.s" -> m("s") / n, s"txn.$v.jobs" -> m("jobs") / n) ++
          (if (Writes.contains(v)) Seq(s"txn.$v.bytes_written" -> m("bytes_written") / n) else Nil)
      }.toMap ++ Map(
        "txn.snapshot_tip_s" -> tipS / math.max(1, tipN),
        "txn.snapshot_asof_s" -> asofS / math.max(1, asofN),
        "txn.log_bytes_per_commit" ->
          (treeBytes(new File(tbl, "_log")) - startLogBytes).toDouble / math.max(1, commits),
        "txn.checkpoints" -> (checkpoints(tbl) - startCkpts).toDouble) ++
        CountingFileSystem.Ops.flatMap(o => Seq("commit", "read").map(p =>
          s"fs.$p.$o" -> CountingFileSystem.get(p, o).toDouble))),
      "commits" -> commits, "table_rows" -> cur.size)
  }
}

object TxnMixed {
  val SeedRows = 20000
  val SeedFiles = 8
  val OpsPerSecond = 2.4
  val AppendRows = 300
  val MergeRows = 100
  val RangeKeys = 50
  val ChangesSpan = 5
  val SmallFileBytes: Long = 256L * 1024
  val Writes: Seq[String] = Seq("append", "merge", "delete_mor", "update_mor", "sql_dml",
    "compact_small")
  val Reads: Seq[String] = Seq("read_tip", "read_pruned", "read_asof", "changes")
  /** One deck of the mix: two writes per read; appends and SQL DML (one
    * UPDATE, one MERGE) twice, compaction once, as maintenance runs rarely. */
  val Deck: Seq[String] = Seq("append", "append", "merge", "delete_mor", "update_mor",
    "sql_dml", "sql_dml", "compact_small") ++ Reads
  val EventTypes: Seq[String] = Seq("signup", "click", "error", "view", "purchase")

  def treeBytes(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).fold(0L)(_.iterator.map(treeBytes).sum)

  def checkpoints(tbl: String): Int =
    Option(new File(tbl, "_log").listFiles).fold(0)(_.count(f =>
      f.getName.startsWith("c") && f.getName.endsWith(".json")))

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
