package graft.ops

import java.nio.file.{Files, Path}

/** One Acid manifest: the ordered entries of `manifest-<v>.txt` (main),
  * `manifest-br-<name>-<k>.txt` (branch) or `manifest-wap-<id>.txt`
  * (staged WAP batch). This file is the only code that knows the on-disk
  * line format; [[Acid]] and its readers work on the typed entries.
  *
  * Format: one entry per line. A line not starting with `#` names a data
  * file (table-root-relative when the manifest carries `# base:.`,
  * `v=<n>/`-relative otherwise); every other line is `# <kind>:<body>`,
  * one kind per [[Manifest.Entry]] case. An unknown kind fails the parse:
  * a reader that skipped a line it did not understand could drop a delete
  * vector or a constraint and silently change what the table means. */
final case class Manifest(entries: Seq[Manifest.Entry]) {
  import Manifest._

  def lines: Seq[String] = entries.map(render)

  lazy val files: Seq[String] = entries.collect { case DataFile(p) => p }

  /** `# base:.` — a root-relative (append-transaction) manifest. */
  def rootRelative: Boolean = entries.contains(Base)

  /** The exactly-once ledger: every txn id committed so far. */
  lazy val txns: Seq[Long] = entries.collect { case Txn(id) => id }
  def hasTxn(id: Long): Boolean = txns.contains(id)

  /** Tagged by an optimize/compaction (Delta's `dataChange=false`). */
  def isRewrite: Boolean = entries.exists {
    case Op(tag) => tag.startsWith("rewrite")
    case _       => false
  }
  def isRestore: Boolean = entries.exists {
    case Op(tag) => tag.startsWith("restore:")
    case _       => false
  }

  /** Equality-delete vector files and their key column. */
  lazy val deletes: Seq[String] = entries.collect { case Delete(f) => f }
  def delKey: Option[String] = entries.collectFirst { case DelKey(k) => k }
  /** (key column, vector files) when a non-empty equality vector stands. */
  def standingDeletes: Option[(String, Seq[String])] =
    delKey.filter(_ => deletes.nonEmpty).map(k => (k, deletes))
  /** The equality-vector entries, as a set (publish/cherry-pick guards). */
  def deleteEntries: Set[Entry] =
    entries.collect { case e @ (_: Delete | _: DelKey) => e }.toSet

  /** Positional-delete vector files. */
  def pdels: Seq[String] = entries.collect { case PDel(f) => f }

  /** Materialized CDC preimage files of the commit that wrote version `v`. */
  def cdcAt(v: Long): Seq[String] = entries.collect { case Cdc(`v`, f) => f }
  def cdcFiles: Seq[String] = entries.collect { case Cdc(_, f) => f }

  /** Per-file partition tuples, `file -> c=v,...`. */
  lazy val pvals: Map[String, PVal] = entries.collect { case p: PVal => p.file -> p }.toMap

  def constraints: Seq[Constraint] = entries.collect { case c: Constraint => c }

  /** Schema-evolution entries (renames, drops, defaults), in commit order —
    * the resolution state a reader applies over a merged-schema scan. */
  lazy val evolution: Seq[Entry] =
    entries.filter(e => e.isInstanceOf[ColMap] || e.isInstanceOf[ColDrop] ||
      e.isInstanceOf[ColDefault])
  def hasColumnMapping: Boolean =
    evolution.exists(e => e.isInstanceOf[ColMap] || e.isInstanceOf[ColDrop])

  /** Row-lineage assignments: lazy first ids, materialized files, mark. */
  lazy val firstRows: Map[String, Long] =
    entries.collect { case FirstRow(f, id) => f -> id }.toMap
  lazy val rowIdPhys: Set[String] = entries.collect { case RowIdPhys(f) => f }.toSet
  def rowIdNext: Option[Long] = entries.collectFirst { case RowIdNext(n) => n }
  /** Assigned ids (lazy or materialized) — a row-lineage table. */
  def hasRowIds: Boolean = firstRows.nonEmpty || rowIdPhys.nonEmpty
  def hasLineage: Boolean = hasRowIds || rowIdNext.isDefined

  def rows: Seq[Rows] = entries.collect { case r: Rows => r }
  def minmax: Seq[MinMax] = entries.collect { case m: MinMax => m }
  def blooms: Seq[Bloom] = entries.collect { case b: Bloom => b }
  def props: Seq[Prop] = entries.collect { case p: Prop => p }
  /** The branch op log, oldest first. */
  def dml: Seq[Dml] = entries.collect { case d: Dml => d }.sortBy(_.k)

  /** Why a zero-copy export (Delta log or Iceberg metadata over these
    * data files) would mislead an external reader, if it would: the
    * exported files are PHYSICAL, so hidden positions resurface and a
    * renamed/defaulted/lineage table diverges from the declared logical
    * schema. Compaction (optimize / optimizeLineage) clears every reason. */
  def exportBlocker: Option[String] =
    if (pdels.nonEmpty) Some("carries POSITIONAL delete vectors — " +
      "compactDeletes (or optimize) to fold them before exporting; " +
      "zero-copy data files would resurrect hidden positions")
    else if (evolution.nonEmpty || hasLineage) Some("carries " +
      "schema-evolution or row-lineage metadata — zero-copy physical files " +
      "would diverge from the declared logical schema; OPTIMIZE " +
      "(materializing the logical frame) before exporting")
    else None
}

object Manifest {

  /** One manifest line. `carried` is the kind's single carry-over
    * property: whether the entry survives into the next commit of the
    * same table. Only the per-commit kinds (the ledger head, the commit
    * tag and the commit's CDC files) do not; an operation retires
    * anything else explicitly through [[carried]]'s `drop`. */
  sealed trait Entry { def carried: Boolean = true }

  /** Entries keyed by one data file (stats, partition tuple, row ids). */
  sealed trait FileEntry extends Entry { def file: String }

  /** Root-relative marker — `# base:.`. */
  case object Base extends Entry { override def carried = false }
  /** Ledger entry — `# txn:<id>`. */
  final case class Txn(id: Long) extends Entry { override def carried = false }
  /** Commit tag — `# op:rewrite:<what>` or `# op:restore:<v>`. */
  final case class Op(tag: String) extends Entry { override def carried = false }
  /** CDC preimage file of version `v`'s commit — `# cdc:<v>|<file>`. */
  final case class Cdc(v: Long, file: String) extends Entry {
    override def carried = false
  }
  /** Equality-delete vector file — `# delete:<file>`. */
  final case class Delete(file: String) extends Entry
  /** Key column of the equality vector — `# delkey:<col>`. */
  final case class DelKey(col: String) extends Entry
  /** Positional-delete vector file — `# pdel:<file>`. */
  final case class PDel(file: String) extends Entry
  /** Physical row count — `# rows:<file>|<n>`. */
  final case class Rows(file: String, n: Long) extends FileEntry
  /** Zone map — `# minmax:<file>|<name>|<lo>|<hi>`. */
  final case class MinMax(file: String, name: String, lo: Long, hi: Long)
      extends FileEntry
  /** Bloom filter words — `# bloom:<file>|<name>|h2|<w,...>`; unversioned
    * (legacy hash) lines omit the `h2` token. */
  final case class Bloom(file: String, name: String, versioned: Boolean,
      words: Array[Long]) extends FileEntry
  /** Partition tuple — `# pval:<file>|<c=v,...>`. */
  final case class PVal(file: String, tuple: String) extends FileEntry {
    def parts: Seq[String] = tuple.split(',').toSeq.filter(_.nonEmpty)
    def values: Map[String, String] =
      parts.map { kv => val Array(c, v) = kv.split("=", 2); c -> v }.toMap
  }
  /** Partition spec of one commit — `# pspec:<txn>|<c,...>`. */
  final case class PSpec(txn: Long, cols: Seq[String]) extends Entry
  /** CHECK constraint — `# constraint:<name>|<predicate sql>`. */
  final case class Constraint(name: String, pred: String) extends Entry
  /** Column rename — `# colmap:<from>|<to>`. */
  final case class ColMap(from: String, to: String) extends Entry
  /** Column drop — `# coldrop:<col>`. */
  final case class ColDrop(col: String) extends Entry
  /** Column default — `# coldefault:<col>|<sql>`. */
  final case class ColDefault(col: String, sql: String) extends Entry
  /** Lazy row-id range start — `# firstrow:<file>|<id>`. */
  final case class FirstRow(file: String, first: Long) extends FileEntry
  /** File carrying materialized `__row_id` — `# rowid_phys:<file>`. */
  final case class RowIdPhys(file: String) extends FileEntry
  /** Row-id high-water mark — `# rowid_next:<n>`. */
  final case class RowIdNext(next: Long) extends Entry
  /** Table property — `# prop:<key>|<value>`. */
  final case class Prop(key: String, value: String) extends Entry
  /** Branch op-log record — `# dml:<k>|<kind>|<txn>|<key>|<op>|<f,...>`
    * (`-` for an absent key/op column). */
  final case class Dml(k: Long, kind: String, txn: Long, keyCol: String,
      opCol: Option[String], files: Seq[String]) extends Entry
  /** A data file — any line not starting with `#`. */
  final case class DataFile(path: String) extends Entry

  val empty: Manifest = Manifest(Seq.empty)

  def render(e: Entry): String = e match {
    case DataFile(p)            => p
    case Base                   => "# base:."
    case Txn(id)                => s"# txn:$id"
    case Op(tag)                => s"# op:$tag"
    case Cdc(v, f)              => s"# cdc:$v|$f"
    case Delete(f)              => s"# delete:$f"
    case DelKey(c)              => s"# delkey:$c"
    case PDel(f)                => s"# pdel:$f"
    case Rows(f, n)             => s"# rows:$f|$n"
    case MinMax(f, n, lo, hi)   => s"# minmax:$f|$n|$lo|$hi"
    case Bloom(f, n, ver, ws)   =>
      s"# bloom:$f|$n|${if (ver) "h2|" else ""}${ws.mkString(",")}"
    case PVal(f, t)             => s"# pval:$f|$t"
    case PSpec(t, cs)           => s"# pspec:$t|${cs.mkString(",")}"
    case Constraint(n, p)       => s"# constraint:$n|$p"
    case ColMap(o, n)           => s"# colmap:$o|$n"
    case ColDrop(c)             => s"# coldrop:$c"
    case ColDefault(c, sql)     => s"# coldefault:$c|$sql"
    case FirstRow(f, id)        => s"# firstrow:$f|$id"
    case RowIdPhys(f)           => s"# rowid_phys:$f"
    case RowIdNext(n)           => s"# rowid_next:$n"
    case Prop(k, v)             => s"# prop:$k|$v"
    case Dml(k, kind, t, key, op, fs) =>
      s"# dml:$k|$kind|$t|$key|${op.getOrElse("-")}|${fs.mkString(",")}"
  }

  /** Parse one trimmed, non-empty line; fails on a malformed or unknown
    * `#` line. */
  def parseLine(l: String): Entry = {
    def bad(why: String) =
      throw new IllegalArgumentException(s"Manifest: $why in line '$l'")
    if (!l.startsWith("#")) return DataFile(l)
    val colon = l.indexOf(':')
    if (!l.startsWith("# ") || colon < 3) bad("malformed header")
    val kind = l.substring(2, colon)
    val body = l.substring(colon + 1)
    def pair: (String, String) = {
      val i = body.indexOf('|')
      if (i < 0) bad(s"'$kind' entry without '|'")
      (body.substring(0, i), body.substring(i + 1))
    }
    def num(s: String): Long =
      try s.trim.toLong catch { case _: NumberFormatException => bad(s"bad number '$s'") }
    kind match {
      case "base"       => if (body != ".") bad("base other than '.'"); Base
      case "txn"        => Txn(num(body))
      case "op"         => Op(body)
      case "cdc"        => val (v, f) = pair; Cdc(num(v), f.trim)
      case "delete"     => Delete(body.trim)
      case "delkey"     => DelKey(body.trim)
      case "pdel"       => PDel(body.trim)
      case "rows"       => val (f, n) = pair; Rows(f, num(n))
      case "minmax"     => body.split('|') match {
        case Array(f, n, lo, hi) => MinMax(f, n, num(lo), num(hi))
        case _ => bad("minmax needs file|name|lo|hi")
      }
      case "bloom"      => body.split('|') match {
        case Array(f, n, "h2", ws) => Bloom(f, n, versioned = true, ws.split(',').map(num))
        case Array(f, n, ws)       => Bloom(f, n, versioned = false, ws.split(',').map(num))
        case _ => bad("bloom needs file|name|[h2|]words")
      }
      case "pval"       => val (f, t) = pair; PVal(f, t)
      case "pspec"      => val (t, cs) = pair; PSpec(num(t), cs.split(',').toSeq)
      case "constraint" => val (n, p) = pair; Constraint(n, p)
      case "colmap"     => body.split('|') match {
        case Array(o, n) => ColMap(o.trim, n.trim)
        case _ => bad("colmap needs from|to")
      }
      case "coldrop"    => ColDrop(body.trim)
      case "coldefault" => val (c, e) = pair; ColDefault(c.trim, e)
      case "firstrow"   => val (f, id) = pair; FirstRow(f, num(id))
      case "rowid_phys" => RowIdPhys(body.trim)
      case "rowid_next" => RowIdNext(num(body))
      case "prop"       => val (k, v) = pair; Prop(k, v)
      case "dml"        => body.split("\\|", 6) match {
        case Array(k, dk, t, key, op, fs) =>
          Dml(num(k), dk, num(t), key, if (op == "-") None else Some(op),
            if (fs.isEmpty) Seq.empty else fs.split(',').toSeq)
        case _ => bad("dml needs k|kind|txn|key|op|files")
      }
      case other        => bad(s"unknown entry kind '$other'")
    }
  }

  /** Parse manifest text lines (trimmed; blank lines skipped). */
  def parse(lines: Iterable[String]): Manifest = {
    val b = Vector.newBuilder[Entry]
    lines.foreach { l0 => val l = l0.trim; if (l.nonEmpty) b += parseLine(l) }
    Manifest(b.result())
  }

  /** File bytes of a manifest: one rendered line each, newline-terminated. */
  def bytes(entries: Seq[Entry]): Array[Byte] =
    entries.map(render).mkString("", "\n", "\n").getBytes("UTF-8")

  /** Write a manifest that must not exist yet (a put-if-absent commit). */
  def writeNew(p: Path, entries: Seq[Entry]): Unit =
    Files.write(p, bytes(entries),
      java.nio.file.StandardOpenOption.CREATE_NEW,
      java.nio.file.StandardOpenOption.WRITE)

  /** Parsed manifests cached per (absolute path, size, mtime-ns). A
    * manifest is written once and never mutated afterwards, so its parse
    * is immutable metadata like a parquet footer: every probe, DML
    * precheck and streaming getBatch that re-reads a version hits the
    * cache. Nanosecond mtime in the key means a file replaced in place
    * (a re-staged WAP batch) can never serve a stale parse. Bounded: the
    * cache clears wholesale past 8192 entries. */
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Manifest]()

  def read(p0: Path): Manifest = {
    val p = p0.toAbsolutePath.normalize
    val key = s"$p|${Files.size(p)}|${Files.getLastModifiedTime(p).toInstant}"
    if (cache.size > 8192) cache.clear()
    cache.computeIfAbsent(key, _ => {
      import scala.jdk.CollectionConverters._
      parse(Files.readAllLines(p).asScala)
    })
  }

  /** The ledger head of the next commit: `# base:.`, the optional commit
    * tag, `prev`'s ledger, then the new txn ids. */
  def head(prev: Manifest, txnIds: Seq[Long], op: Option[String] = None): Seq[Entry] =
    (Base +: op.map(Op).toVector) ++ (prev.txns ++ txnIds).map(Txn)

  /** The header entries of `prev` that survive into the next commit, in
    * their order: every kind marked [[Entry.carried]] except what `drop`
    * retires. With `withFiles` the data files stay in place among them
    * (a commit that re-references a whole snapshot: restore, publish,
    * clone). This is the one carry-over rule of every commit path. */
  def carried(prev: Manifest, drop: Entry => Boolean = _ => false,
      withFiles: Boolean = false): Seq[Entry] =
    prev.entries.filter(e => e.carried && !drop(e) &&
      (withFiles || !e.isInstanceOf[DataFile]))

  /** What a rewrite of `files` retires: their per-file entries (stats,
    * partition tuples and, with `lineage`, their row-id assignments). */
  def deadStats(files: Seq[String], lineage: Boolean = false): Entry => Boolean = {
    val dead = files.toSet
    val byFile: Entry => Boolean = {
      case _: FirstRow | _: RowIdPhys if !lineage => false
      case e: FileEntry => dead(e.file)
      case _            => false
    }
    byFile
  }

  /** What a whole-snapshot rewrite (optimize, compaction) retires: every
    * per-file entry, the delete vectors it folds in, and the partition
    * specs (the rewritten files carry no tuple). */
  val rewriteRetires: Entry => Boolean = {
    case _: FileEntry | _: Delete | _: DelKey | _: PDel | _: PSpec => true
    case _ => false
  }

  /** The equality vector, retired by a commit that re-emits it. */
  val vectorEntries: Entry => Boolean = {
    case _: Delete | _: DelKey => true
    case _ => false
  }
}
