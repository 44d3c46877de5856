package graft.engine

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Path, StandardOpenOption}

import scala.collection.mutable.ArrayBuffer

/** Pure-Scala writer of the public SQLite database file format
  * (https://www.sqlite.org/fileformat2.html) — the inverse of
  * [[SqliteFile]], making segment migration bidirectional: a segment
  * exported here is a well-formed rowid-table database that the real
  * `sqlite3` opens, integrity-checks, and queries (the specs verify
  * exactly that), so a trough deployment can move data back out of
  * this engine without any SQLite linkage in the JVM.
  *
  * Memory shape: pages stream to the target [[FileChannel]] as they
  * fill — the writer holds one page of cells in flight plus O(#leaves)
  * bookkeeping per tree ((page, max-key) pairs and promoted index
  * dividers), never the table; what its callers buffer is theirs
  * ([[SqliteExportKernel]] holds one table at a time).
  *
  * Scope mirrors the reader plus what a valid schema REQUIRES: rowid
  * table B-trees built bottom-up (packed leaves, interior levels over
  * (child, max-rowid) pairs, root pinned — the `sqlite_master` root
  * lives on page 1 by definition), record serial types chosen
  * minimally, overflow chains for payloads past the spill thresholds,
  * UTF-8 text, no freelist/WAL. A non-rowid-alias PRIMARY KEY in the
  * DDL implies a `sqlite_autoindex_<t>_1` UNIQUE index whose B-tree
  * must physically exist (`integrity_check` counts its entries), and
  * recorded secondary indexes (CREATE INDEX) are materialized the same
  * way: key-record leaf cells with divider entries PROMOTED into
  * interior levels (an index entry lives exactly once in the whole
  * tree, unlike table interior keys), keys ordered by SQLite's BINARY
  * semantics (storage class rank, numeric value, UTF-8 memcmp, blob
  * memcmp, rowid tiebreak).
  */
object SqliteWriter {

  /** One index to materialize: `keys()` must yield key tuples (last
    * element = rowid tiebreak) ALREADY sorted by [[valueOrdering]]
    * semantics — e.g. a Spark `orderBy` over the key columns then the
    * rowid (Spark's string ordering is UTF8 memcmp and its binary
    * ordering unsigned lexicographic, both matching SQLite BINARY).
    * `sql` is the CREATE INDEX text for `sqlite_master` (null for the
    * implied autoindex). */
  final case class StreamedIndex(
      name: String, sql: String, keys: () => Iterator[IndexedSeq[Any]])

  /** One table to write: `rows()` must yield (rowid, record values)
    * sorted by rowid, strictly ascending (the B-tree key); the
    * rowid-alias column, if any, should hold null in the values
    * (SQLite stores it as NULL in the record). `rows()` is consumed
    * exactly once, BEFORE any of the table's `indexes` — index key
    * iterators may therefore be built as side effects of the row
    * pass. A WITHOUT ROWID table instead supplies
    * `withoutRowidKeys` (full records, PRIMARY-KEY-prefix column
    * order, pre-sorted): its storage is an index B-tree whose master
    * row still reads type='table' (fileformat2.html §2.2); `rows` is
    * then ignored. */
  final case class StreamedTable(
      name: String, ddl: String,
      rows: () => Iterator[(Long, IndexedSeq[Any])],
      indexes: Seq[StreamedIndex] = Nil,
      withoutRowidKeys: Option[() => Iterator[IndexedSeq[Any]]] = None)

  /** Buffered convenience form (specs, small tables): rows in memory,
    * `autoIndexCols` = value indices of a non-rowid-alias PRIMARY KEY,
    * whose implied `sqlite_autoindex` B-tree is built over them. */
  final case class TableData(
      name: String, ddl: String, rows: Seq[(Long, IndexedSeq[Any])],
      autoIndexCols: Seq[Int] = Nil)

  def write(path: Path, tables: Seq[TableData], pageSize: Int = 4096): Unit =
    writeStreamed(path, tables.map { t =>
      StreamedTable(t.name, t.ddl, () => t.rows.iterator,
        if (t.autoIndexCols.isEmpty) Nil
        else Seq(StreamedIndex(autoIndexName(t.name), null,
          () => t.rows.map { case (rowid, vals) =>
            (t.autoIndexCols.map(vals(_)) :+ rowid).toIndexedSeq
          }.sorted(keyOrdering).iterator)))
    }, pageSize)

  def autoIndexName(table: String, n: Int = 1): String =
    s"sqlite_autoindex_${table}_$n"

  /** Stream tables (and their pre-sorted index keys) into a database
    * file. sqlite_master rows (§2.6): (type, name, tbl_name, rootpage,
    * sql) with the root pinned at page 1; a table's index rows follow
    * its table row, as SQLite itself catalogs them. */
  def writeStreamed(path: Path, tables: Seq[StreamedTable],
      pageSize: Int = 4096, views: Seq[(String, String)] = Nil,
      triggers: Seq[(String, String, String)] = Nil,
      virtualTables: Seq[(String, String)] = Nil): Unit = {
    val ch = FileChannel.open(path, StandardOpenOption.CREATE,
      StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
    try {
      val w = new SqliteWriter(pageSize, ch)
      val masterRows = ArrayBuffer[IndexedSeq[Any]]()
      // virtual tables are catalog-only like views: (type='table',
      // rootpage=0, sql = the CREATE VIRTUAL TABLE text); the module
      // reads its shadow tables, which `tables` carries physically
      virtualTables.foreach { case (name, sql) =>
        masterRows += IndexedSeq[Any]("table", name, name, 0L, sql)
      }
      tables.foreach { t =>
        val root = t.withoutRowidKeys match {
          case Some(keys) => w.buildIndexTreeSorted(keys())
          case None => w.buildTableTree(t.rows())
        }
        masterRows += IndexedSeq[Any]("table", t.name, t.name, root.toLong, t.ddl)
        t.indexes.foreach { ix =>
          val ixRoot = w.buildIndexTreeSorted(ix.keys())
          masterRows += IndexedSeq[Any]("index", ix.name, t.name, ixRoot.toLong, ix.sql)
        }
      }
      // views are catalog-only: (type='view', rootpage=0, sql = the
      // CREATE VIEW text) — SQLite resolves the text at query time
      views.foreach { case (name, sql) =>
        masterRows += IndexedSeq[Any]("view", name, name, 0L, sql)
      }
      // triggers are catalog-only too: (type='trigger', tbl_name = the
      // TARGET table, rootpage=0) — real sqlite3 executes them from
      // this row alone, so exports keep firing natively
      triggers.foreach { case (name, table, sql) =>
        masterRows += IndexedSeq[Any]("trigger", name, table, 0L, sql)
      }
      w.buildMasterTree(masterRows.toSeq.zipWithIndex.map { case (r, i) => (i + 1L, r) })
      w.finalizeHeader()
    } finally ch.close()
  }

  /** SQLite BINARY ordering over storage values (§ "Sort Order"):
    * NULL < numeric < text < blob; numerics by value across int/real;
    * text by UTF-8 memcmp (NOT String.compareTo — UTF-16 surrogate
    * order diverges above U+FFFF); blobs by unsigned memcmp. */
  private[engine] val valueOrdering: Ordering[Any] = new Ordering[Any] {
    private def rank(v: Any): Int = v match {
      case null => 0
      case _: Long | _: Double => 1
      case _: String => 2
      case _: Array[Byte] => 3
      case other => throw new IllegalArgumentException(s"unorderable: $other")
    }
    private def memcmp(a: Array[Byte], b: Array[Byte]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val d = (a(i) & 0xFF) - (b(i) & 0xFF)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }
    def compare(a: Any, b: Any): Int = {
      val (ra, rb) = (rank(a), rank(b))
      if (ra != rb) ra - rb
      else ra match {
        case 0 => 0
        case 1 => (a, b) match {
          case (x: Long, y: Long) => java.lang.Long.compare(x, y)
          case _ =>
            // cross-class numeric compare exact via BigDecimal (a large
            // long is not exactly representable as double)
            def bd(v: Any) = v match {
              case l: Long => java.math.BigDecimal.valueOf(l)
              case d: Double => java.math.BigDecimal.valueOf(d)
            }
            bd(a).compareTo(bd(b))
        }
        case 2 => memcmp(
          a.asInstanceOf[String].getBytes(StandardCharsets.UTF_8),
          b.asInstanceOf[String].getBytes(StandardCharsets.UTF_8))
        case _ => memcmp(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
      }
    }
  }

  private[engine] val keyOrdering: Ordering[IndexedSeq[Any]] =
    (x: IndexedSeq[Any], y: IndexedSeq[Any]) => {
      var i = 0
      var r = 0
      while (r == 0 && i < math.min(x.length, y.length)) {
        r = valueOrdering.compare(x(i), y(i))
        i += 1
      }
      if (r != 0) r else x.length - y.length
    }

  /** [[keyOrdering]] with a per-position collation (None = BINARY):
    * an index over a collated column must lay its entries out in the
    * order real sqlite3 searches with (NOCASE = memcmp of ASCII-folded
    * bytes — sqlite3StrICmp's table; RTRIM = BINARY ignoring trailing
    * 0x20), or lookups miss and integrity_check flags the tree. Text
    * values only; every other storage class orders as BINARY under
    * every built-in collation. */
  private[engine] def keyOrderingWith(
      colls: Seq[Option[String]]): Ordering[IndexedSeq[Any]] =
    if (colls.forall(_.isEmpty)) keyOrdering
    else (x: IndexedSeq[Any], y: IndexedSeq[Any]) => {
      var i = 0
      var r = 0
      while (r == 0 && i < math.min(x.length, y.length)) {
        r = (if (i < colls.length) colls(i) else None) match {
          case Some(c) => (x(i), y(i)) match {
            case (xs: String, ys: String) =>
              valueOrdering.compare(collKey(c, xs), collKey(c, ys))
            case _ => valueOrdering.compare(x(i), y(i))
          }
          case None => valueOrdering.compare(x(i), y(i))
        }
        i += 1
      }
      if (r != 0) r else x.length - y.length
    }

  private def collKey(coll: String, s: String): String = coll match {
    case "RTRIM" =>
      var e = s.length
      while (e > 0 && s.charAt(e - 1) == ' ') e -= 1
      s.substring(0, e)
    case _ =>
      AsciiLower.lower(org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString
  }
}

final class SqliteWriter(pageSize: Int, channel: FileChannel) {
  require(pageSize >= 512 && pageSize <= 65536 && Integer.bitCount(pageSize) == 1,
    s"page size must be a power of two in [512, 65536], got $pageSize")
  private val usable = pageSize // reserved bytes = 0

  // 1-indexed page allocator; page 1 reserved up front for the master
  // root. Every allocated page is written exactly once (leaves,
  // interior nodes, overflow chains), streamed straight to the channel.
  private var pageCounter = 1
  private def alloc(): Int = { pageCounter += 1; pageCounter }

  private def putPage(pageNo: Int, buf: Array[Byte]): Unit = {
    val bb = ByteBuffer.wrap(buf)
    var off = (pageNo.toLong - 1) * pageSize
    while (bb.hasRemaining) off += channel.write(bb, off)
  }

  // ------------------------------------------------------------- primitives

  private def varint(v: Long): Array[Byte] = {
    if (v >= 0 && v < 0x80) Array(v.toByte)
    else {
      // 9-byte form when the value needs more than 8×7 bits
      val need9 = (v >>> 56) != 0 || v < 0
      if (need9) {
        val out = new Array[Byte](9)
        out(8) = v.toByte
        var x = v >>> 8
        var i = 7
        while (i >= 0) { out(i) = ((x & 0x7F) | 0x80).toByte; x >>>= 7; i -= 1 }
        out
      } else {
        val tmp = new Array[Byte](8)
        var x = v
        var n = 0
        while (x != 0) { tmp(n) = (x & 0x7F).toByte; x >>>= 7; n += 1 }
        val out = new Array[Byte](n)
        var i = 0
        while (i < n) {
          out(i) = (tmp(n - 1 - i) | (if (i < n - 1) 0x80 else 0)).toByte
          i += 1
        }
        out
      }
    }
  }

  /** Record format (§"Record Format"): minimal serial types. Serial
    * types 8/9 (integer 0/1) require schema format ≥ 4 — the header
    * declares 4. */
  private def encodeRecord(values: Seq[Any]): Array[Byte] = {
    val parts = values.map {
      case null => (0L, Array.emptyByteArray)
      case l: Long =>
        if (l == 0) (8L, Array.emptyByteArray)
        else if (l == 1) (9L, Array.emptyByteArray)
        else {
          val width =
            if (l >= -128 && l <= 127) 1
            else if (l >= -32768 && l <= 32767) 2
            else if (l >= -(1L << 23) && l < (1L << 23)) 3
            else if (l >= Int.MinValue && l <= Int.MaxValue) 4
            else if (l >= -(1L << 47) && l < (1L << 47)) 6
            else 8
          val b = new Array[Byte](width)
          var i = 0
          while (i < width) { b(i) = (l >>> (8 * (width - 1 - i))).toByte; i += 1 }
          // serial types: widths 1,2,3,4 -> 1..4; width 6 -> 5; width 8 -> 6
          val serial = if (width <= 4) width.toLong else if (width == 6) 5L else 6L
          (serial, b)
        }
      case d: Double =>
        val b = new Array[Byte](8)
        ByteBuffer.wrap(b).putDouble(d)
        (7L, b)
      case s: String =>
        val b = s.getBytes(StandardCharsets.UTF_8)
        (13L + 2L * b.length, b)
      case b: Array[Byte] => (12L + 2L * b.length, b)
      case other =>
        throw new IllegalArgumentException(
          s"cannot encode ${other.getClass.getSimpleName} as a SQLite storage class")
    }
    val typeVarints = parts.map(p => varint(p._1))
    val typesLen = typeVarints.map(_.length).sum
    // the header-size varint includes its own length — iterate to the
    // fixpoint (converges in ≤ 3 steps at the varint width boundaries)
    var headerLen = typesLen + 1
    var hl = varint(headerLen.toLong).length
    while (typesLen + hl != headerLen) {
      headerLen = typesLen + hl
      hl = varint(headerLen.toLong).length
    }
    val out = ArrayBuffer[Byte]()
    out ++= varint(headerLen.toLong)
    typeVarints.foreach(out ++= _)
    parts.foreach(out ++= _._2)
    out.toArray
  }

  private def be4(v: Int): Array[Byte] = {
    val b = new Array[Byte](4); ByteBuffer.wrap(b).putInt(v); b
  }

  /** Allocate and fill an overflow chain for `payload(local..)`;
    * returns the first chain page (each page: 4-byte next, then data). */
  private def spillChain(payload: Array[Byte], local: Int): Int = {
    val perPage = usable - 4
    val spill = payload.length - local
    val nPages = (spill + perPage - 1) / perPage
    val chain = (0 until nPages).map(_ => alloc())
    var off = local
    chain.zipWithIndex.foreach { case (pg, i) =>
      val buf = new Array[Byte](pageSize)
      ByteBuffer.wrap(buf).putInt(0, if (i == nPages - 1) 0 else chain(i + 1))
      val n = math.min(perPage, payload.length - off)
      System.arraycopy(payload, off, buf, 4, n)
      off += n
      putPage(pg, buf)
    }
    chain.head
  }

  /** §1.6 local-payload size for a page whose max embedded fraction
    * gives threshold `x`: the whole payload if it fits, else K or M. */
  private def localLen(p: Int, x: Int): Int = {
    if (p <= x) p
    else {
      val m = (usable - 12) * 32 / 255 - 23
      val k = m + ((p - m) % (usable - 4))
      if (k <= x) k else m
    }
  }

  /** Table-leaf cell: payload-len varint, rowid varint, local payload,
    * and a 4-byte first-overflow pointer when the payload spills
    * (§1.6 table-leaf threshold X = U−35, mirrored from the reader). */
  private def leafCell(rowid: Long, payload: Array[Byte]): Array[Byte] = {
    val p = payload.length
    val local = localLen(p, usable - 35)
    if (local == p) varint(p.toLong) ++ varint(rowid) ++ payload
    else varint(p.toLong) ++ varint(rowid) ++ payload.take(local) ++
      be4(spillChain(payload, local))
  }

  /** Index cell (leaf: no prefix; interior: 4-byte child prefix):
    * payload-len varint + local payload + overflow pointer if spilled.
    * Index pages use the 64/255 embedded-payload threshold (§1.6).
    * Sizing is separate from construction: building a cell ALLOCATES
    * its overflow chain, so speculative size checks must use
    * [[indexCellLen]] or discarded candidates would orphan pages
    * (`integrity_check` flags never-used pages). */
  private def indexCell(prefix: Array[Byte], payload: Array[Byte]): Array[Byte] = {
    val p = payload.length
    val local = localLen(p, (usable - 12) * 64 / 255 - 23)
    if (local == p) prefix ++ varint(p.toLong) ++ payload
    else prefix ++ varint(p.toLong) ++ payload.take(local) ++
      be4(spillChain(payload, local))
  }

  private def indexCellLen(prefixLen: Int, payloadLen: Int): Int = {
    val local = localLen(payloadLen, (usable - 12) * 64 / 255 - 23)
    prefixLen + varint(payloadLen.toLong).length + local + (if (local == payloadLen) 0 else 4)
  }

  // ---------------------------------------------------------- tree building

  /** Write one B-tree page: `base` is 100 on page 1, 0 elsewhere.
    * Cells are placed back-to-front from the end of the page; the
    * pointer array (cell order = key order) follows the header. */
  private def writePage(
      pageNo: Int, base: Int, pageType: Int, cells: Seq[Array[Byte]],
      rightMost: Int = 0): Unit = {
    val interior = pageType == 2 || pageType == 5
    val headerLen = if (interior) 12 else 8 // leaves (10, 13): no right-most field
    require(base + headerLen + 2 * cells.length + cells.map(_.length).sum <= usable,
      s"page $pageNo overfull: ${cells.length} cells of ${cells.map(_.length).sum} bytes")
    val buf = new Array[Byte](pageSize)
    val bb = ByteBuffer.wrap(buf)
    bb.put(base, pageType.toByte)
    bb.putShort(base + 1, 0.toShort) // first freeblock
    bb.putShort(base + 3, cells.length.toShort)
    bb.put(base + 7, 0.toByte) // fragmented free bytes
    if (interior) bb.putInt(base + 8, rightMost)
    var content = usable
    cells.zipWithIndex.foreach { case (cell, i) =>
      content -= cell.length
      System.arraycopy(cell, 0, buf, content, cell.length)
      bb.putShort(base + headerLen + 2 * i, content.toShort)
    }
    // content offset 0 encodes 65536 on a cell-less 64 KiB page
    bb.putShort(base + 5, (if (content == 65536) 0 else content).toShort)
    putPage(pageNo, buf)
  }

  /** Greedy pack: max cells per page under the pointer-array + content
    * budget. Used for INTERIOR levels, whose (child, key) cell lists
    * are O(#children of the level) — leaf levels stream instead. */
  private def packPages(cells: Seq[Array[Byte]], base0: Int, headerLen: Int)
      : Seq[Seq[Array[Byte]]] = {
    val budget = usable - base0 - headerLen
    val groups = ArrayBuffer[ArrayBuffer[Array[Byte]]]()
    var cur = ArrayBuffer[Array[Byte]]()
    var used = 0
    cells.foreach { c =>
      val cost = c.length + 2
      // base0 only applies to a root page; packing conservatively with
      // it keeps a single-group result valid wherever the root lands
      if (cur.nonEmpty && used + cost > budget) {
        groups += cur; cur = ArrayBuffer[Array[Byte]](); used = 0
      }
      cur += c; used += cost
    }
    groups += cur
    // an interior node must keep ≥ 2 children (a lone right-most child
    // with zero cells is degenerate); rebalance a trailing singleton
    // from the previous group when the moved cell still fits
    if (groups.length > 1 && groups.last.length == 1) {
      val prev = groups(groups.length - 2)
      val moved = prev.remove(prev.length - 1)
      if (groups.last.map(_.length + 2).sum + moved.length + 2 <= budget)
        groups.last.prepend(moved)
      else prev += moved // can't fit (huge leaf cells): put it back
    }
    groups.map(_.toSeq).toSeq
  }

  /** Build a table B-tree from (rowid, record-values) rows sorted by
    * rowid (checked inline, strictly ascending); returns the root page
    * number. `rootAt` pins the root (page 1 for sqlite_master). Leaves
    * stream to the channel as they fill — only the current page's
    * cells and an O(#leaves) (page, max-rowid) list stay in memory. */
  private def buildTree(rows: Iterator[(Long, IndexedSeq[Any])], rootAt: Option[Int]): Int = {
    val rootBase = if (rootAt.contains(1)) 100 else 0
    // conservative budget incl. the root base, so a single-group result
    // stays valid wherever the root lands (same rule as packPages)
    val budget = usable - rootBase - 8
    val leaves = ArrayBuffer[(Int, Long)]() // (page, max rowid)
    var cur = ArrayBuffer[Array[Byte]]() // built cells: table cells never promote
    var used = 0
    var maxKey = 0L
    var prevRowid = Long.MinValue
    var any = false
    rows.foreach { case (rowid, vals) =>
      require(!any || rowid > prevRowid,
        s"rows must be sorted by rowid, strictly ascending (got $rowid after $prevRowid)")
      any = true; prevRowid = rowid
      val cell = leafCell(rowid, encodeRecord(vals))
      val cost = cell.length + 2
      if (cur.nonEmpty && used + cost > budget) {
        val pg = alloc()
        writePage(pg, 0, 13, cur.toSeq)
        leaves += ((pg, maxKey))
        cur = ArrayBuffer[Array[Byte]](); used = 0
      }
      cur += cell; used += cost; maxKey = rowid
    }
    if (leaves.isEmpty) {
      // single group: it IS the tree — on the pinned root if its
      // tighter budget holds. packPages admits a first cell
      // unconditionally and so does the stream above, so one
      // near-threshold cell (an ~8 KB DDL whose local payload lands
      // near U−35) can still exceed page 1's 100-byte-header budget:
      // real SQLite answers with a cell-less interior root
      // (balance_deeper), and so does this.
      val fits = rootBase + 8 + used <= usable
      if (fits) {
        val root = rootAt.getOrElse(alloc())
        writePage(root, if (root == 1) 100 else 0, 13, cur.toSeq)
        root
      } else {
        val leaf = alloc()
        writePage(leaf, 0, 13, cur.toSeq)
        val root = rootAt.getOrElse(return leaf) // unpinned always fits; for safety
        writePage(root, if (root == 1) 100 else 0, 5, Nil, rightMost = leaf)
        root
      }
    } else {
      val pg = alloc()
      writePage(pg, 0, 13, cur.toSeq)
      leaves += ((pg, maxKey))
      // interior levels over (childPage, maxKeyInChild) until one node
      // remains; cell lists here are O(#children), kept in memory
      var level: Seq[(Int, Long)] = leaves.toSeq
      while (level.length > 1) {
        // interior cell: 4-byte child + varint(max rowid of child);
        // the group's LAST child becomes the right-most pointer
        val interiorCells = level.map { case (child, key) =>
          val b = new Array[Byte](4); ByteBuffer.wrap(b).putInt(child)
          b ++ varint(key)
        }
        val groups = packPages(interiorCells, rootBase, 12)
        val isRootLevel = groups.length == 1
        var idx = 0
        level = groups.map { g =>
          val children = level.slice(idx, idx + g.length)
          idx += g.length
          val pg = if (isRootLevel) rootAt.getOrElse(alloc()) else alloc()
          // the group's LAST child becomes the right-most pointer; its
          // cell is dropped (per the interior-page format)
          writePage(pg, if (pg == 1) 100 else 0, 5,
            g.init, rightMost = children.last._1)
          (pg, children.last._2)
        }
      }
      level.head._1
    }
  }

  private[engine] def buildTableTree(rows: Iterator[(Long, IndexedSeq[Any])]): Int =
    buildTree(rows, rootAt = None)

  private[engine] def buildMasterTree(rows: Seq[(Long, IndexedSeq[Any])]): Unit =
    buildTree(rows.iterator, rootAt = Some(1))

  /** Build an index B-tree over PRE-SORTED key tuples (last element =
    * rowid tiebreak, [[SqliteWriter.keyOrdering]] order). Unlike table
    * trees, every entry lives exactly ONCE in the whole tree: when a
    * leaf fills, the next entry is PROMOTED to become the divider cell
    * in the parent level — and likewise between interior pages,
    * recursively. Returns the root page.
    *
    * The current leaf buffers RAW payloads, not built cells: building
    * a cell allocates its overflow chain, and a buffered payload can
    * still become a divider (the split-at-final-entry below), which
    * would orphan the chain. The structural invariant is dividers ==
    * leaves − 1 — a promoted entry divides the flushed leaf from the
    * one that FOLLOWS it, so a flush triggered by the FINAL entry must
    * split the current leaf instead (promoting it would leave f+1
    * leaves over f−1 dividers). */
  private[engine] def buildIndexTreeSorted(sorted: Iterator[IndexedSeq[Any]]): Int = {
    val budget = usable - 8
    val leafPages = ArrayBuffer[Int]()
    val divPayloads = ArrayBuffer[Array[Byte]]()
    var cur = ArrayBuffer[Array[Byte]]() // raw payloads of the current leaf
    var used = 0
    def writeLeaf(payloads: Seq[Array[Byte]]): Unit = {
      val pg = alloc()
      writePage(pg, 0, 10, payloads.map(p => indexCell(Array.emptyByteArray, p)))
      leafPages += pg
    }
    while (sorted.hasNext) {
      val payload = encodeRecord(sorted.next())
      val cellLen = indexCellLen(0, payload.length) + 2
      if (cur.nonEmpty && used + cellLen > budget) {
        if (sorted.hasNext) { // normal promotion: entries follow
          writeLeaf(cur.toSeq)
          divPayloads += payload
          cur = ArrayBuffer[Array[Byte]](); used = 0
        } else {
          // split: cur's last entry becomes the divider, the final
          // entry the right-most leaf — keeps dividers == leaves − 1
          require(cur.length >= 2, "index leaf underflow (cell larger than half a page?)")
          val divider = cur.remove(cur.length - 1)
          writeLeaf(cur.toSeq)
          divPayloads += divider
          cur = ArrayBuffer[Array[Byte]](payload); used = cellLen
        }
      } else { cur += payload; used += cellLen }
    }
    writeLeaf(cur.toSeq) // trailing leaf; Nil for the empty tree

    // interior levels: children c_0..c_n with dividers d_i between c_i
    // and c_{i+1}; a page over [a..b] stores cells (c_i, d_i) for
    // i<b, right-most c_b, and promotes d_b to the level above
    var children: Seq[Int] = leafPages.toSeq
    var divs: Seq[Array[Byte]] = divPayloads.toSeq
    while (children.length > 1) {
      val ibudget = usable - 12
      // group children into ranges first so the trailing range can be
      // rebalanced to ≥ 2 children (a cell-less interior page with
      // only a right-most pointer is degenerate)
      val ranges = ArrayBuffer[(Int, Int)]()
      var a = 0
      while (a < children.length) {
        var b = a
        var iused = 0
        var fits = true
        while (fits && b + 1 < children.length) {
          val cellLen = indexCellLen(4, divs(b).length) + 2
          if (iused + cellLen > ibudget) fits = false
          else { iused += cellLen; b += 1 }
        }
        ranges += ((a, b))
        a = b + 1
      }
      if (ranges.length > 1 && ranges.last._1 == ranges.last._2) {
        val (pa, pb) = ranges(ranges.length - 2)
        ranges(ranges.length - 2) = (pa, pb - 1)
        ranges(ranges.length - 1) = (pb, ranges.last._2)
      }
      val nextChildren = ArrayBuffer[Int]()
      val nextDivs = ArrayBuffer[Array[Byte]]()
      ranges.foreach { case (ra, rb) =>
        val cells = (ra until rb).map(j => indexCell(be4(children(j)), divs(j)))
        val pg = alloc()
        writePage(pg, 0, 2, cells, rightMost = children(rb))
        nextChildren += pg
        if (rb < children.length - 1) nextDivs += divs(rb) // promote
      }
      children = nextChildren.toSeq
      divs = nextDivs.toSeq
    }
    children.head
  }

  // ---------------------------------------------------------------- render

  /** Stamp the 100-byte header (§1.3) over the front of page 1 (whose
    * b-tree content was written with a 100-byte base offset). */
  private[engine] def finalizeHeader(): Unit = {
    val h = ByteBuffer.allocate(100)
    h.put(0, "SQLite format 3".getBytes(StandardCharsets.ISO_8859_1) :+ 0.toByte)
    h.putShort(16, (if (pageSize == 65536) 1 else pageSize).toShort)
    h.put(18, 1.toByte) // write version: legacy journal
    h.put(19, 1.toByte) // read version
    h.put(20, 0.toByte) // reserved bytes per page
    h.put(21, 64.toByte) // max embedded payload fraction (must be 64)
    h.put(22, 32.toByte) // min embedded payload fraction (must be 32)
    h.put(23, 32.toByte) // leaf payload fraction (must be 32)
    h.putInt(24, 1) // file change counter
    h.putInt(28, pageCounter) // database size in pages
    h.putInt(32, 0) // freelist trunk
    h.putInt(36, 0) // freelist count
    h.putInt(40, 1) // schema cookie
    h.putInt(44, 4) // schema format (4: serial types 8/9 allowed)
    h.putInt(48, 0) // default page cache size
    h.putInt(52, 0) // largest root page (auto-vacuum off)
    h.putInt(56, 1) // text encoding: UTF-8
    h.putInt(60, 0) // user version
    h.putInt(64, 0) // incremental vacuum
    h.putInt(68, 0) // application id
    h.putInt(92, 1) // version-valid-for (= change counter)
    h.putInt(96, 3040001) // sqlite version number stamp
    var off = 0L
    while (h.hasRemaining) off += channel.write(h, off)
    require(channel.size() == pageCounter.toLong * pageSize,
      s"file size ${channel.size()} != $pageCounter pages of $pageSize bytes " +
        "(an allocated page was never written)")
  }
}
