package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.file.Files
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

import graft.ingest.BinlogBinaryWriter._

/** Seeded input generator. Binlog bytes go through the program's public
  * `BinlogBinaryWriter` (CRC32-checksummed files ending in ROTATE), Avro
  * containers through Avro's own `DataFileWriter` (not the program's
  * sink). Every choice comes from `java.util.Random(seed)`, so one seed
  * gives byte-identical files; [[Fingerprint]] records what was written.
  *
  * The generator also records the ground truth each workload is checked
  * against: the `Report.summary` counters and per-(schema, table, status)
  * breakdown counts for a compare, and the per-table census plus the torn
  * tail length for a follow feed. */
object Corpus {

  val Db = "bench"
  val Match = "MATCH"; val MismatchTs = "MISMATCH_TS"
  val MismatchGtid = "MISMATCH_GTID"; val MismatchCt = "MISMATCH_CHANGE_TYPE"
  val AvroOnly = "AVRO_ONLY"; val BinlogOnly = "BINLOG_ONLY"

  final case class Fingerprint(files: Int, bytes: Long, events: Long, sha256: String) {
    def json: String =
      s"""{"files":$files,"bytes":$bytes,"events":$events,"sha256":"$sha256"}"""
  }

  /** Expected compare outputs. */
  final case class CompareTruth(matched: Long, mismatches: Long, avroOnly: Long,
      binlogOnly: Long, breakdown: Map[(String, String, String), Long])

  /** What one compare corpus holds. */
  final case class CompareCorpus(binlogDir: File, avroDir: File, truth: CompareTruth,
      binlog: Fingerprint, avro: Fingerprint) {
    def inputBytes: Long = binlog.bytes + avro.bytes
  }

  /** The follow feed: closed backlog files, files appended before the
    * resume, and the active file whose last transaction is torn. */
  final case class FollowCorpus(backlog: Seq[File], appended: Seq[File], active: File,
      avroDir: File, truth: CompareTruth,
      censusAfterDrain: Map[String, (Long, Long)],
      censusAfterResume: Map[String, (Long, Long)],
      backlogTail: Long, tornBytes: Long, backlogBytes: Long, resumeBytes: Long, maxBytesPerTrigger: Long,
      binlog: Fingerprint, avro: Fingerprint)

  // ------------------------------------------------------------ shapes

  /** Column layout of one generated table. */
  private final case class Table(id: Long, name: String, cols: Seq[ColDef],
      row: (java.util.Random, Long) => Seq[Option[Array[Byte]]])

  private val narrowCols = Seq(ColDef.longlong, ColDef.varchar(32))
  private def narrowRow(r: java.util.Random, k: Long): Seq[Option[Array[Byte]]] =
    Seq(Some(encLongLong(k)), Some(encVarchar(s"v${r.nextInt(1000000)}", 32)))

  private val followCols = Seq(ColDef.longlong, ColDef.varchar(32), ColDef.long)
  private def followRow(r: java.util.Random, k: Long): Seq[Option[Array[Byte]]] =
    Seq(Some(encLongLong(k)), Some(encVarchar(s"n${r.nextInt(100000)}", 32)),
      if (r.nextInt(10) == 0) None else Some(encLong(r.nextInt(1000000))))

  // lineitem-shaped columns plus a few-hundred-byte VARCHAR and a JSON cell
  private val wideCols = Seq(ColDef.longlong, ColDef.longlong, ColDef.longlong,
    ColDef.long, ColDef.newDecimal(15, 2), ColDef.newDecimal(15, 2),
    ColDef.newDecimal(15, 2), ColDef.newDecimal(15, 2), ColDef.varchar(1), ColDef.varchar(1),
    ColDef.date, ColDef.varchar(512), ColDef.json(4))
  private val words = Array("carefully", "final", "deposits", "sleep", "quickly",
    "ironic", "packages", "among", "the", "furiously", "regular", "accounts",
    "blithely", "pending", "requests", "haggle", "slyly", "express", "foxes")
  private def wideRow(r: java.util.Random, k: Long): Seq[Option[Array[Byte]]] = {
    val sb = new StringBuilder
    while (sb.length < 280) sb.append(words(r.nextInt(words.length))).append(' ')
    val doc = Json.JObj(Seq(
      "sku" -> Json.JStr(f"SKU-${r.nextInt(99999)}%05d"),
      "tags" -> Json.JArr(Seq.fill(3)(Json.JStr(words(r.nextInt(words.length))))),
      "qty" -> Json.JInt(r.nextInt(50)),
      "gift" -> Json.JBool(r.nextBoolean())))
    Seq(Some(encLongLong(k)), Some(encLongLong(r.nextInt(200000))),
      Some(encLongLong(r.nextInt(10000))), Some(encLong(1 + r.nextInt(7))),
      Some(encNewDecimal(100L * (1 + r.nextInt(50)), 15, 2)),
      Some(encNewDecimal(r.nextInt(10000000), 15, 2)),
      Some(encNewDecimal(r.nextInt(11), 15, 2)), Some(encNewDecimal(r.nextInt(9), 15, 2)),
      Some(encVarchar("AFN".substring(r.nextInt(3)).take(1), 1)),
      Some(encVarchar("OF".substring(r.nextInt(2)).take(1), 1)),
      Some(encDate(1992 + r.nextInt(7), 1 + r.nextInt(12), 1 + r.nextInt(28))),
      Some(encVarchar(sb.toString.trim, 512)), Some(encJson(doc, 4)))
  }

  // ------------------------------------------------------------ binlog

  /** One binlog file being written. `event` returns the event's end
    * position, which is its (file, position) key on the compare side. */
  private final class BinFile(val file: File) {
    private val os = new BufferedOutputStream(new FileOutputStream(file), 1 << 16)
    private val fb = new FileBuilder(checksums = true, sink = os)
    var pos: Long = fb.fde(0L)
    def event(ts: Long, code: Int, body: Array[Byte]): Long = {
      pos = fb.event(ts, code, body); pos
    }
    def close(next: Option[String]): Unit = {
      next.foreach(n => event(0L, 4, rotateBody(n)))
      fb.flush(); os.close()
    }
  }

  private def fileName(seq: Int): String = f"mysql-bin.$seq%06d"

  private def sid(seed: Long): Array[Byte] = {
    val r = new java.util.Random(seed ^ 0x5eedL)
    val b = new Array[Byte](16); r.nextBytes(b); b
  }
  private def uuid(sid: Array[Byte]): String = {
    val hex = sid.map(b => f"${b & 0xFF}%02x").mkString
    s"${hex.substring(0, 8)}-${hex.substring(8, 12)}-${hex.substring(12, 16)}-" +
      s"${hex.substring(16, 20)}-${hex.substring(20)}"
  }

  /** One DML rows event as the compare side sees it. */
  private final case class RowsEvent(file: String, pos: Long, ts: Long, gtid: String,
      table: String, changeType: String, keys: Seq[Long])

  /** Writes transactions (GTID, BEGIN, then per rows event a TABLE_MAP and
    * the rows event, then XID) into consecutive files of about
    * `fileBytes` each. Returns every rows event and the positions of the
    * GTID events (keys with no row event behind them). */
  private final class TxnWriter(dir: File, seed: Long, tables: IndexedSeq[Table],
      firstSeq: Int, startTs: Long, r: java.util.Random) {
    private val s = sid(seed)
    private val uid = uuid(s)
    private var seq = firstSeq
    private var cur = new BinFile(new File(dir, fileName(seq)))
    private var ts = startTs
    private var gno = 1L + (firstSeq.toLong << 32)
    private var xid = 1000L + (firstSeq.toLong << 32)
    private var key = 1L + (firstSeq.toLong << 32)
    val rowsEvents = mutable.ArrayBuffer.empty[RowsEvent]
    val gtidKeys = mutable.ArrayBuffer.empty[(String, Long)]
    val dmlByTable = mutable.Map.empty[String, (Long, Long)] // committed (events, rows)

    private var committedEnd = 0L
    def bytes: Long = cur.pos
    def fileNow: File = cur.file
    /** Bytes of the current file past its last commit: a tail stream
      * holds them back while this file is the newest one. */
    def tailBytes: Long = cur.pos - committedEnd

    /** One transaction; `commit = false` leaves it torn (no XID). */
    def txn(nEvents: Int, rowsPerEvent: Int, commit: Boolean = true): Unit = {
      ts += 1
      gtidKeys += ((cur.file.getName, cur.event(ts, 33, gtidBody(s, gno))))
      val gtid = s"$uid:$gno"; gno += 1
      cur.event(ts, 2, queryBody(Db, "BEGIN"))
      val pending = mutable.ArrayBuffer.empty[(String, Long, Long)]
      (0 until nEvents).foreach { _ =>
        val t = tables(r.nextInt(tables.size))
        cur.event(ts, 19, tableMapBody(t.id, Db, t.name, t.cols))
        val n = 1 + r.nextInt(rowsPerEvent)
        val ks = Seq.fill(n) { key += 1; key }
        // half WRITE, three tenths UPDATE, one fifth DELETE
        val (code, ct, body, nImages) = r.nextInt(10) match {
          case p if p < 5 => (30, "INSERT", rowsBody(t.id, t.cols.size, ks.map(k => t.row(r, k))), n)
          case p if p < 8 => (31, "UPDATE", updateRowsBody(t.id, t.cols.size,
            ks.map(k => (t.row(r, k), t.row(r, k)))), 2 * n)
          case _ => (32, "DELETE", rowsBody(t.id, t.cols.size, ks.map(k => t.row(r, k))), n)
        }
        val pos = cur.event(ts, code, body)
        rowsEvents += RowsEvent(cur.file.getName, pos, ts, gtid, t.name, ct, ks)
        pending += ((s"$Db.${t.name}", 1L, nImages.toLong))
      }
      if (commit) {
        committedEnd = cur.event(ts, 16, xidBody(xid)); xid += 1
        pending.foreach { case (tn, e, n) =>
          val (e0, n0) = dmlByTable.getOrElse(tn, (0L, 0L))
          dmlByTable(tn) = (e0 + e, n0 + n)
        }
      }
    }

    /** Close the current file with a ROTATE and open the next one. */
    def rotate(): Unit = {
      seq += 1
      cur.close(Some(fileName(seq)))
      cur = new BinFile(new File(dir, fileName(seq)))
    }

    /** Close the last file; `rotateOut` writes a trailing ROTATE. */
    def finish(rotateOut: Boolean): Unit =
      cur.close(if (rotateOut) Some(fileName(seq + 1)) else None)
    def nextSeq: Int = seq + 1
    def lastTs: Long = ts
  }

  // -------------------------------------------------------------- avro

  // one payload record for every table: the lineitem-shaped fields are
  // set for the wide tables and null for the narrow ones
  private val payloadSchema: Schema = SchemaBuilder.record("Payload").namespace("datastream")
    .fields().requiredLong("id").optionalString("v")
    .optionalLong("l_partkey").optionalLong("l_suppkey")
    .optionalInt("l_linenumber").optionalDouble("l_quantity")
    .optionalDouble("l_extendedprice").optionalDouble("l_discount").optionalDouble("l_tax")
    .optionalString("l_returnflag").optionalString("l_linestatus")
    .optionalString("l_shipdate").optionalString("l_comment").optionalString("attrs")
    .endRecord()

  private val changeRecord: Schema = {
    val optStr = SchemaBuilder.unionOf().nullType().and().stringType().endUnion()
    val meta = SchemaBuilder.record("SourceMetadata").namespace("datastream").fields()
      .requiredString("database").requiredString("table")
      .name("change_type").`type`(optStr).withDefault(null)
      .name("gtid").`type`(optStr).withDefault(null)
      .requiredString("binlog_file").requiredLong("binlog_position")
      .requiredBoolean("is_deleted")
      .name("primary_keys").`type`().array().items().stringType().noDefault()
      .endRecord()
    SchemaBuilder.record("ChangeRecord").namespace("datastream").fields()
      .requiredString("uuid").requiredLong("read_timestamp")
      .requiredLong("source_timestamp").requiredString("object")
      .requiredString("read_method").requiredString("stream_name")
      .name("source_metadata").`type`(meta).noDefault()
      .name("payload").`type`(payloadSchema).noDefault()
      .endRecord()
  }

  /** Writes Datastream-shaped change records, one per row, into
    * `files` containers and tallies the expected compare outcome. */
  private def writeAvro(dir: File, files: Int, events: Seq[RowsEvent], gtidKeys: Seq[(String, Long)],
      fate: Map[String, Double], dupFrac: Double, seed: Long, r: java.util.Random): CompareTruth = {
    val schema = changeRecord
    val metaS = schema.getField("source_metadata").schema()
    val payS = schema.getField("payload").schema()
    val writers = (0 until files).map { i =>
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      w.setSyncInterval(1 << 16)
      // a seeded sync marker (Avro draws a random one by default), so the
      // same seed gives byte-identical containers
      val sync = new Array[Byte](16)
      new java.util.Random(seed * 1000003L + i).nextBytes(sync)
      w.create(schema, new FileOutputStream(new File(dir, f"part-$i%05d.avro")), sync); w
    }
    val counts = mutable.Map.empty[(String, String, String), Long].withDefaultValue(0L)
    var matched, mismatches, avroOnly, binlogOnly = 0L
    val sb = new StringBuilder
    def payload(table: String, k: Long): GenericRecord = {
      val p = new GenericData.Record(payS)
      p.put("id", k)
      if (WideTables(table)) {
        sb.setLength(0)
        while (sb.length < 280) sb.append(words(r.nextInt(words.length))).append(' ')
        p.put("l_partkey", r.nextInt(200000).toLong)
        p.put("l_suppkey", r.nextInt(10000).toLong); p.put("l_linenumber", 1 + r.nextInt(7))
        p.put("l_quantity", (1 + r.nextInt(50)).toDouble)
        p.put("l_extendedprice", r.nextInt(10000000) / 100.0)
        p.put("l_discount", r.nextInt(11) / 100.0); p.put("l_tax", r.nextInt(9) / 100.0)
        p.put("l_returnflag", "AFN".substring(r.nextInt(3)).take(1))
        p.put("l_linestatus", "OF".substring(r.nextInt(2)).take(1))
        p.put("l_shipdate", f"199${2 + r.nextInt(7)}-0${1 + r.nextInt(9)}-1${r.nextInt(9)}")
        p.put("l_comment", sb.toString.trim)
        p.put("attrs", s"""{"sku":"SKU-${r.nextInt(99999)}","qty":${r.nextInt(50)}}""")
      } else p.put("v", s"v${r.nextInt(1000000)}")
      p
    }
    var n = 0L
    def emit(file: String, pos: Long, tsMs: Long, gtid: String, table: String,
        ct: String, k: Long): Unit = {
      val m = new GenericData.Record(metaS)
      m.put("database", Db); m.put("table", table); m.put("change_type", ct)
      m.put("gtid", gtid); m.put("binlog_file", file); m.put("binlog_position", pos)
      m.put("is_deleted", ct == "DELETE"); m.put("primary_keys", java.util.List.of("id"))
      val rec = new GenericData.Record(schema)
      rec.put("uuid", f"${r.nextLong()}%016x"); rec.put("read_timestamp", tsMs + 500)
      rec.put("source_timestamp", tsMs); rec.put("object", s"${Db}_$table")
      rec.put("read_method", "mysql-cdc-binlog"); rec.put("stream_name", "bench-stream")
      rec.put("source_metadata", m); rec.put("payload", payload(table, k))
      writers((n % files).toInt).append(rec); n += 1
    }
    val pTs = fate.getOrElse(MismatchTs, 0.0)
    val pGtid = pTs + fate.getOrElse(MismatchGtid, 0.0)
    val pCt = pGtid + fate.getOrElse(MismatchCt, 0.0)
    val pBo = pCt + fate.getOrElse(BinlogOnly, 0.0)
    events.foreach { e =>
      val u = r.nextDouble()
      if (u < pBo && u >= pCt) {
        binlogOnly += 1; counts((Db, e.table, BinlogOnly)) += 1
      } else {
        // a DELETE infers no change type in the reference semantics, so
        // a change-type fate on a DELETE becomes a timestamp mismatch
        val st =
          if (u < pTs) MismatchTs else if (u < pGtid) MismatchGtid
          else if (u < pCt) (if (e.changeType == "DELETE") MismatchTs else MismatchCt)
          else Match
        val tsMs = e.ts * 1000L + (if (st == MismatchTs) 5000 + r.nextInt(60000) else r.nextInt(90))
        val gtid = if (st == MismatchGtid) e.gtid + "0" else e.gtid
        val ct = if (st == MismatchCt) (if (e.changeType == "INSERT") "DELETE" else "INSERT")
          else e.changeType
        val copies = if (r.nextDouble() < dupFrac) 2 else 1
        e.keys.foreach { k =>
          (0 until copies).foreach { _ =>
            emit(e.file, e.pos, tsMs, gtid, e.table, ct, k)
            matched += 1; counts((Db, e.table, st)) += 1
            if (st == MismatchTs) mismatches += 1
          }
        }
      }
    }
    // records whose key names a GTID event: no row event behind them
    val nAvroOnly = math.round(events.size * fate.getOrElse(AvroOnly, 0.0)).toInt
    r.ints(nAvroOnly.toLong, 0, gtidKeys.size).toArray.distinct.foreach { i =>
      val (f, p) = gtidKeys(i)
      emit(f, p, 1714564800000L, "", "ghost", "INSERT", 0L)
      avroOnly += 1; counts((Db, "ghost", AvroOnly)) += 1
    }
    writers.foreach(_.close())
    CompareTruth(matched, mismatches, avroOnly, binlogOnly, counts.toMap)
  }

  // ------------------------------------------------------ fingerprints

  def fingerprint(files: Seq[File], events: Long): Fingerprint = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = new Array[Byte](1 << 16)
    files.sortBy(_.getName).foreach { f =>
      md.update(f.getName.getBytes("UTF-8"))
      val in = new java.io.FileInputStream(f)
      try {
        var n = in.read(buf)
        while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    }
    Fingerprint(files.size, files.map(_.length).sum, events,
      md.digest().map(b => f"${b & 0xFF}%02x").mkString)
  }

  private def listed(dir: File, suffix: String): Seq[File] =
    dir.listFiles().toSeq.filter(f => f.isFile && f.getName.contains(suffix)).sortBy(_.getName)

  private def countEvents(files: Seq[File]): Long = files.map { f =>
    val in = new java.io.BufferedInputStream(new java.io.FileInputStream(f), 1 << 16)
    graft.ingest.BinlogBinaryParser.decodeStream(in, f.getName, withRowImages = false).size.toLong
  }.sum

  // --------------------------------------------------------- workloads

  private def fresh(d: File): File = { Harness.deleteTree(d); d.mkdirs(); d }

  private val WideTables = Set("w01", "w02")

  private def tableSet(n: Int, cols: Seq[ColDef],
      row: (java.util.Random, Long) => Seq[Option[Array[Byte]]]): IndexedSeq[Table] =
    (1 to n).map(i => Table(100L + i, f"t$i%02d", cols, row))

  /** A compare corpus: `files` binlog files of about `fileBytes` each. */
  private def compare(root: File, seed: Long, files: Int, fileBytes: Long,
      tables: IndexedSeq[Table], eventsPerTxn: Int, rowsPerEvent: Int, avroFiles: Int, fate: Map[String, Double], dupFrac: Double): CompareCorpus = {
    val r = new java.util.Random(seed)
    val bdir = fresh(new File(root, "binlog")); val adir = fresh(new File(root, "avro"))
    val w = new TxnWriter(bdir, seed, tables, 1, 1714564800L + (seed % 86400), r)
    (0 until files).foreach { i =>
      while (w.bytes < fileBytes) w.txn(eventsPerTxn, rowsPerEvent)
      if (i < files - 1) w.rotate()
    }
    w.finish(rotateOut = true)
    val truth = writeAvro(adir, avroFiles, w.rowsEvents.toSeq, w.gtidKeys.toSeq,
      fate, dupFrac, seed, r)
    val bfiles = listed(bdir, "mysql-bin."); val afiles = listed(adir, ".avro")
    CompareCorpus(bdir, adir, truth, fingerprint(bfiles, countEvents(bfiles)),
      fingerprint(afiles, truth.matched + truth.avroOnly))
  }

  /** `cli_compare`: many files mixing wide lineitem-shaped row images (a
    * few-hundred-byte VARCHAR and a JSON cell, UPDATE before+after images)
    * with narrow events; ~30% of keys are not MATCH, spread over every
    * status, and the Avro side carries redelivered duplicates. */
  def cliCompare(root: File, seed: Long): CompareCorpus = cliCompare(root, seed, 6, 1L << 20, 8)

  /** The same shape in one small binlog file and one Avro container: the
    * warm-up input of a fresh JVM (the compare's cost is mostly fixed, so
    * a small input loads, generates and compiles the same code). */
  def cliCompareWarmUp(root: File, seed: Long): CompareCorpus =
    cliCompare(root, seed, 1, 64L << 10, 1)

  private def cliCompare(root: File, seed: Long, files: Int, fileBytes: Long,
      avroFiles: Int): CompareCorpus =
    compare(root, seed, files, fileBytes,
      tables = tableSet(6, narrowCols, narrowRow) ++
        WideTables.toSeq.sorted.zipWithIndex.map { case (n, i) => Table(200L + i, n, wideCols, wideRow) },
      eventsPerTxn = 3, rowsPerEvent = 3, avroFiles = avroFiles,
      fate = Map(MismatchTs -> 0.06, MismatchGtid -> 0.06, MismatchCt -> 0.06,
        BinlogOnly -> 0.06, AvroOnly -> 0.06), dupFrac = 0.05)

  /** `follow_cron`: ~20 tables of mixed DML. */
  def follow(root: File, seed: Long): FollowCorpus = {
    val r = new java.util.Random(seed)
    val tables = tableSet(20, followCols, followRow)
    val bdir = fresh(new File(root, "backlog")); val adir = fresh(new File(root, "append"))
    val gdir = fresh(new File(root, "active")); val avdir = fresh(new File(root, "avro"))
    val backlogFiles = 6; val fileBytes = 320L << 10
    val w = new TxnWriter(bdir, seed, tables, 1, 1714564800L + (seed % 86400), r)
    (0 until backlogFiles).foreach { i =>
      while (w.bytes < fileBytes) w.txn(3, 3)
      if (i < backlogFiles - 1) w.rotate()
    }
    w.finish(rotateOut = true)
    val backlogTail = w.tailBytes
    val censusDrain = w.dmlByTable.toMap
    val backlogEvents = w.rowsEvents.toSeq
    val backlogGtids = w.gtidKeys.toSeq
    val truth = writeAvro(avdir, 2, backlogEvents, backlogGtids, Map.empty, 0.0, seed, r)
    // appended closed files and one active file, numbered after the backlog
    val w2 = new TxnWriter(adir, seed, tables, w.nextSeq, w.lastTs + 10, r)
    w2.dmlByTable ++= w.dmlByTable
    (0 until 2).foreach { _ =>
      while (w2.bytes < fileBytes) w2.txn(3, 3)
      w2.rotate()
    }
    while (w2.bytes < fileBytes / 4) w2.txn(3, 3)
    w2.txn(2, 3, commit = false) // the torn tail: no XID yet
    w2.finish(rotateOut = false)
    val tornBytes = w2.tailBytes
    val active = w2.fileNow
    Files.move(active.toPath, new File(gdir, active.getName).toPath)
    val activeF = new File(gdir, active.getName)
    val bl = listed(bdir, "mysql-bin."); val ap = listed(adir, "mysql-bin.")
    val all = bl ++ ap :+ activeF
    val backlogBytes = bl.map(_.length).sum
    FollowCorpus(bl, ap, activeF, avdir, truth, censusDrain, w2.dmlByTable.toMap,
      backlogTail = backlogTail, tornBytes = tornBytes, backlogBytes = backlogBytes,
      resumeBytes = ap.map(_.length).sum + activeF.length,
      // below every file's size, so closed files complete one per
      // micro-batch; the newest file, walked to commit boundaries, takes
      // three (two budgets and the rest): eight micro-batches whatever the
      // seed's file sizes
      maxBytesPerTrigger = bl.last.length * 2 / 5,
      binlog = fingerprint(all, countEvents(all)),
      avro = fingerprint(listed(avdir, ".avro"), truth.matched))
  }
}
