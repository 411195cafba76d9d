package lakebench

import java.nio.file.{Files, Path}
import java.time.LocalDateTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.lake.{GrpcLakeServer, LakeDataset, LakeServer}
import graft.model.{StorageSpec, TableName}
import graft.sources.ProtoCodec.PbSourceIpc

/** One write the client sends: an Arrow IPC chunk for
  * InsertTable/UpsertTable, or an ExecuteDml statement.
  */
sealed trait Write { def cls: String }
final case class Ingest(cls: String, ipc: Array[Byte], rows: Int, upsertKeys: Seq[String])
    extends Write
final case class Dml(cls: String, sql: String) extends Write

/** persist_reopen: a storage-backed `orders` lake (Parquet plus a JSON
  * manifest under a scratch root; partition `o_orderstatus`, 5 buckets on
  * `o_custkey`, upsert key `o_orderkey`). One closed-loop client repeats
  * rounds of: an upsert chunk (UpsertTable), a chunk of fresh keys
  * (InsertTable) and a key delete (ExecuteDml), all over the wire; a save
  * (`toStorage`, which has no wire verb); and a reopen from storage with one
  * aggregate checked against a replay of the seeded writes. Wire ingest,
  * storage I/O, manifest commits and cold reads after a restart do the work.
  */
object PersistReopen {
  val Table = "orders"
  val Scale = ServeRead.Scale
  val Key = "o_orderkey"
  /** Measured rounds per run = this × `--seconds`, at least [[MinRounds]].
    * One more round runs first as set-up: the first writes over the wire and
    * the first reopen run far slower than later ones.
    */
  val RoundsPerSecond = 0.2
  val MinRounds = 2
  val TracedRounds = 4
  val SetupBuilds = 3
  val Round = Seq("upsert", "insert", "delete", "save", "reopen")
  private val Statuses = Seq("F", "O", "P")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val UpsertRows = 200
  private val InsertRows = 100
  private val DeleteKeys = 20
  private val FreshKeyBase = 10000000L
  private val AggSql = s"SELECT COUNT(*) AS n, SUM(o_totalprice) AS total, " +
    s"MIN($Key) AS lo, MAX($Key) AS hi FROM $Table"

  /** The table as the replay sees it: order key -> row values. */
  final class Model(rows: Seq[Row]) {
    val byKey = mutable.HashMap[Long, IndexedSeq[Any]]()
    rows.foreach(r => byKey(r.getLong(0)) = r.toSeq.toIndexedSeq)
    def fingerprint: (Long, Long) = Answers.fingerprint(byKey.valuesIterator.map(Row.fromSeq))
  }

  /** One round's writes, and the state they leave: the aggregate after the
    * reopen and the whole table's fingerprint.
    */
  final case class RoundOps(writes: Seq[Write], userBytes: Long,
      expectAgg: IndexedSeq[IndexedSeq[Any]], expectTable: (Long, Long))

  /** The seeded rounds, applied to `model` as they are generated. */
  def rounds(ctx: Ctx, rng: Random, n: Int, model: Model, schema: StructType): IndexedSeq[RoundOps] = {
    val keys = model.byKey.keys.toIndexedSeq.sorted
    val custs = model.byKey.values.map(_(1).asInstanceOf[Long]).toIndexedSeq.distinct.sorted
    var fresh = FreshKeyBase
    def live(k: Int) = Iterator.continually(keys(rng.nextInt(keys.length)))
      .filter(model.byKey.contains).distinct.take(k).toSeq
    def ingest(cls: String, rows: Seq[IndexedSeq[Any]], upsertKeys: Seq[String]): Ingest = {
      rows.foreach(r => model.byKey(r(0).asInstanceOf[Long]) = r)
      Ingest(cls, Serve.rowsToIpc(ctx, rows.map(Row.fromSeq), schema), rows.length, upsertKeys)
    }
    (1 to n).map { _ =>
      val up = ingest("upsert", live(UpsertRows).map { k =>
        val v = model.byKey(k)
        v.updated(3, math.round(v(3).asInstanceOf[Double] * 101 + 100) / 100.0)
      }, Seq(Key))
      val ins = ingest("insert", Seq.fill(InsertRows) {
        fresh += 1
        IndexedSeq[Any](fresh, custs(rng.nextInt(custs.length)),
          Statuses(rng.nextInt(3)), (rng.nextInt(50000000) + 100000) / 100.0,
          LocalDateTime.of(1995 + rng.nextInt(6), 1 + rng.nextInt(12), 1 + rng.nextInt(28), 0, 0),
          Priorities(rng.nextInt(5)))
      }, Nil)
      val gone = live(DeleteKeys)
      gone.foreach(model.byKey.remove)
      val del = Dml("delete", s"DELETE FROM $Table WHERE $Key IN (${gone.mkString(", ")})")
      val liveKeys = model.byKey.keys
      val agg = IndexedSeq(IndexedSeq[Any](model.byKey.size.toLong,
        model.byKey.valuesIterator.map(_(3).asInstanceOf[Double]).sum, liveKeys.min, liveKeys.max))
      RoundOps(Seq(up, ins, del), up.ipc.length.toLong + ins.ipc.length + del.sql.length, agg,
        model.fingerprint)
    }
  }

  def send(conn: Conn, w: Write): Unit = w match {
    case Ingest(_, ipc, _, keys) =>
      val md = if (keys.isEmpty) GrpcLakeServer.InsertTableMethod else GrpcLakeServer.UpsertTableMethod
      conn.stream(md, Seq(PbSourceIpc("public", Table, ipc, keys = keys).encode))
    case Dml(_, sql) => conn.dml(sql)
  }

  /** The same write in-process on `table`, through the engine call the
    * server makes for it.
    */
  def applyInProcess(tr: Trace, server: LakeServer, table: String, w: Write): Unit = {
    val name = TableName("public", table)
    w match {
      case Ingest(_, ipc, _, Nil) => tr.span("ingestor.insert")(server.insertTableIpc(name, Iterator(ipc)))
      case Ingest(_, ipc, _, keys) =>
        tr.span("ingestor.upsert")(server.upsertTableIpc(name, keys, Iterator(ipc)))
      case Dml(_, sql) =>
        tr.span("ingestor.delete")(server.db.executeDml(sql.replace(s" FROM $Table", s" FROM $table")))
    }
  }

  private def bytesUnder(root: Path): Long =
    if (!Files.exists(root)) 0L
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Regular files under `root` with their size and modification time. */
  private def listing(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toMap

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val grpc = new GrpcLakeServer(new LakeServer(spark))
    val server = grpc.server
    val conn = new Conn(grpc.port)
    try {
      val src = ctx.table(Scale, Table)
      val schema = src.schema
      val sessionS = ctx.sinceStartS
      def rootOf(table: String): Path = ctx.work.resolve("lake").resolve(table)
      def build(table: String): Unit = {
        LakeDataset.deleteRecursively(rootOf(table))
        server.createTable(TableName("public", table), Iterator(src), Seq("o_orderstatus"),
          Seq("o_custkey"), storage = Some(StorageSpec(rootOf(table).toString)))
        server.db.get(table).get.toStorage()
      }
      val builds = (1 to SetupBuilds).map { _ =>
        val t0 = System.nanoTime()
        build(Table)
        (System.nanoTime() - t0) / 1e9
      }
      val model = new Model(src.collect().toSeq)
      val warmRounds = if (ctx.traced) 0 else 1
      val n = if (ctx.traced) TracedRounds
        else math.max(MinRounds, math.round(RoundsPerSecond * ctx.seconds).toInt)
      val rs = rounds(ctx, new Random(ctx.seed), warmRounds + n, model, schema)
      val logs = Round.map(c => c -> new OpLog(c)).toMap
      val warmLogs = Round.map(c => c -> new OpLog(s"warmup_$c")).toMap
      val check = new OpLog("reopened_table")
      val tr = new Trace(spark)
      val stats = new RoundStats(tr)

      /** Runs round `i` on `table` from this thread, over the wire unless
        * `inProcess`; returns each operation's wall time in milliseconds.
        */
      def runRound(r: RoundOps, i: Int, table: String, inProcess: Boolean, rl: RoundLog,
          into: Map[String, OpLog] = logs): Seq[Double] = {
        val root = rootOf(table)
        val walls = mutable.ArrayBuffer[Double]()
        def timedOp[A](cls: String)(body: => A)(check: A => Option[String]) = {
          val t0 = System.nanoTime()
          val res = tr.op(f"persist_reopen/$cls/$i%03d")(rl.op(into(cls))(body)(check))
          walls += (System.nanoTime() - t0) / 1e6
          res
        }
        r.writes.foreach { w =>
          timedOp(w.cls) {
            if (inProcess) applyInProcess(tr, server, table, w) else send(conn, w)
          }(_ => None)
        }
        if (tr.enabled) stats.userBytes += r.userBytes
        timedOp("save")(stats.persisted(root) {
          tr.span("storage.save")(server.db.get(table).get.toStorage())
        })(_ => None)
        timedOp("reopen") {
          val ds = tr.span("storage.reopen")(LakeDataset.fromStorage(spark, root.toString))
          server.db.register(TableName("public", table), ds)
          val df = tr.span("database.sql")(server.db.executeSql(AggSql.replace(s" FROM $Table", s" FROM $table")))
          tr.span("prune.optimize")(df.queryExecution.optimizedPlan)
          df.collect()
        }(rows => Answers.diff(rows.toSeq, r.expectAgg))
        rl.endRound()
        walls.toList
      }

      def finalCheck(table: String): Unit =
        check.timed(Answers.fingerprint(server.db.executeSql(s"SELECT * FROM $table")
          .toLocalIterator().asScala)) { got =>
          if (got == rs.last.expectTable) None
          else Some(s"reopened table $got, state before close ${rs.last.expectTable}")
        }

      val warmS = rs.take(warmRounds).zipWithIndex.map { case (r, i) =>
        runRound(r, i, Table, inProcess = false, new RoundLog, warmLogs).sum / 1e3
      }.sum
      val setupS = sessionS + Stats.median(builds) + warmS
      val setupNote = f"setup: session $sessionS%.2f s, builds " +
        f"${builds.map(b => f"$b%.2f").mkString("/")} s (median kept), warm-up round $warmS%.2f s"
      val ordered = Round.map(logs)
      val warmups = if (warmRounds == 0) Nil else Round.map(warmLogs)
      val notes = Seq(setupNote, s"client=1 closed loop, ${rs.length - warmRounds} rounds of " +
        "upsert, insert and delete over the wire, save, reopen+aggregate")
      if (!ctx.traced) {
        val rl = new RoundLog
        val t0 = System.nanoTime()
        rs.zipWithIndex.drop(warmRounds).foreach { case (r, i) => runRound(r, i, Table, inProcess = false, rl) }
        val wallS = (System.nanoTime() - t0) / 1e9
        finalCheck(Table)
        val onDisk = bytesUnder(rootOf(Table))
        val plain = ctx.work.resolve("plain")
        spark.createDataFrame(model.byKey.values.toSeq.map(Row.fromSeq).asJava, schema).coalesce(1)
          .write.option("compression", "snappy").parquet(plain.toString)
        val writes = Seq("upsert", "insert", "delete").map(logs)
        val acked = rs.flatMap(_.writes.collect { case i: Ingest => i.rows.toLong }).sum
        val named = ServeRead.classMetrics(ordered) ++ Seq(
          Metric("ingest_rows_s", acked / (writes.flatMap(_.latencies).sum / 1e3), "rows/s"),
          Metric("space_amp", onDisk.toDouble / bytesUnder(plain), "ratio"))
        Outcome(warmups ++ ordered :+ check, setupS, rl.roundMs, ordered, wallS, named,
          notes = notes ++ Seq(s"space: $onDisk bytes under the table root, ${bytesUnder(plain)} " +
            "as one snappy Parquet file", "ingest_rows_s is rows acknowledged over the writes' own time"))
      } else {
        // Each round runs in-process twice: untraced on a second copy of the
        // table and traced on the first; the difference is the tracing
        // overhead.
        val copy = s"${Table}_untraced"
        build(copy)
        tr.enable()
        val gc0 = Jvm.gcMs
        val (untraced, traced) = rs.zipWithIndex.map { case (r, i) =>
          tr.pair(i)(runRound(r, i, copy, inProcess = true, new RoundLog))(
            runRound(r, i, Table, inProcess = true, new RoundLog))
        }.unzip match { case (a, b) => (a.flatten, b.flatten) }
        val gcMs = (Jvm.gcMs - gc0).toDouble
        finalCheck(copy)
        finalCheck(Table)
        server.db.executeDml(s"DROP TABLE $copy")
        val agg = tr.opWork("persist_reopen/reopen/").map(_._2)
        val layers = TraceReport.common(tr, "persist_reopen/", gcMs,
            Stats.median(traced) - Stats.median(untraced)) ++ Seq(
          Metric("prune.rows_scanned_per_row", agg.map(_.inputRecords).sum.toDouble / agg.length,
            "ratio"),
          Metric("prune.catalog_answered_ratio", agg.count(_.jobs == 0).toDouble / agg.length,
            "ratio"),
          Metric("lake.parts", server.db.get(Table).map(_.numParts.toDouble).getOrElse(0.0), "count"),
          Metric("storage.files_written", stats.filesWritten.toDouble, "count"),
          Metric("storage.bytes_written_per_user_byte",
            stats.bytesWritten.toDouble / stats.userBytes, "ratio"))
        val perClass = Round.map { c =>
          val x = tr.work(s"persist_reopen/$c/")
          f"class $c%-8s jobs=${x.jobs}%5d tasks=${x.tasks}%6d input_bytes=${x.inputBytes}%11d " +
            f"shuffle_bytes=${x.shuffleReadBytes + x.shuffleWriteBytes}%10d"
        }
        Outcome(ordered :+ check, setupS, layers = layers,
          notes = (notes ++ TraceReport.finish(ctx, tr, layers, untraced, traced) ++ perClass) ++ Seq(
            "both halves apply the writes in-process, through the calls the server makes for " +
              "them (upsertTableIpc, insertTableIpc, executeDml), so the ingestor spans include " +
              "the IPC decode and the view refresh",
            "storage.save_ms is toStorage, which commits the manifest inside it; the manifest " +
              "commit has no span of its own",
            "prune.* count the reopen round's aggregate"))
      }
    } finally {
      conn.close()
      grpc.close()
    }
  }

  /** Files and bytes the traced saves wrote, against the bytes the client
    * sent.
    */
  private final class RoundStats(tr: Trace) {
    var filesWritten = 0L
    var bytesWritten = 0L
    var userBytes = 0L
    def persisted[A](root: Path)(body: => A): A = if (!tr.enabled) body else {
      val before = listing(root)
      val r = body
      val changed = listing(root).filter { case (p, v) => !before.get(p).contains(v) }
      filesWritten += changed.size
      bytesWritten += changed.values.map(_._1).sum
      r
    }
  }
}
