package graft.engine

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

/** Streaming writer of the fts5 on-disk inverted index — the contents
  * of the `<fts>_data` and `<fts>_idx` shadow tables — so `.sqlite`
  * exports of segments holding FTS5 virtual tables are SEARCHABLE by
  * real libsqlite3 (the reference serves fts through whatever its
  * sqlite build ships, trough/read.py:63-67; exports must round-trip
  * into such a deployment). The format was pinned by decoding files
  * the sandbox fts5 wrote (hex dumps of `%_data` under pgsz=64 for
  * the multi-page shapes) — every structure below is cross-checked
  * against those bytes in Fts5ExportSpec, and exported files pass
  * real sqlite3's own fts5 integrity-check:
  *
  *  - rowid 1: the "averages" record — varint nRow then one varint
  *    per column of total token count (EMPTY blob when the table
  *    holds no rows).
  *  - rowid 10: the "structure" record — 4-byte config cookie (0),
  *    varint nLevel, varint nSegment, varint nWriteCounter (leaves
  *    ever flushed to level 0), then per level: varint nMerge,
  *    varint nSeg, and per segment (segid, pgnoFirst, pgnoLast).
  *    A tokenless corpus stores the empty structure (0, 0, 0).
  *  - rowid (segid<<37)+pgno: segment leaves. Header = 2-byte BE
  *    offset of the first rowid that STARTS on the page (0 when
  *    none), 2-byte BE szLeaf (offset of the page footer). Body =
  *    interleaved terms and doclists; footer ("pgidx") = varints of
  *    term offsets, first absolute then deltas. The first term on a
  *    page is stored whole (varint nByte + bytes); subsequent terms
  *    prefix-compress against the previous term (varint nPrefix,
  *    varint nSuffix, suffix bytes). Terms carry an index-id prefix
  *    byte — '0' for the main term index, '1'… for declared prefix=
  *    indexes in declaration order (each holding the first-L-CHARS
  *    prefixes of tokens at least L characters long, doclist
  *    positions merged per row; probed) — which the CALLER prepends
  *    so all indexes interleave one byte-ordered term stream.
  *    A doclist is rowid (absolute at doclist start AND at each
  *    page's first-rowid position, delta otherwise), varint
  *    2*len(poslist), poslist bytes. Poslists encode positions as
  *    (delta + 2) varints per column (delta from 0 at column start)
  *    with 0x01 + varint(col) column switches; column 0 is implied.
  *  - `%_idx` rows: (segid, first NEW term of the page — page 1
  *    stores the empty prefix — and pgno<<1; bit 0 would flag a
  *    doclist-index, which this writer never needs: fts5 reads
  *    multi-page doclists sequentially without one, verified on its
  *    own pgsz=64 files).
  *
  * Pages spill to a driver-local temp file as they close — the
  * builder holds ONE page in memory. Feed order contract: `add` is
  * called with terms ascending by UTF-8 bytes and rowids ascending
  * within a term (the exporter, [[SqliteExportKernel]], sorts one
  * table's postings in-process). */
final class Fts5IndexBuilder(pgsz: Int = 4000) extends AutoCloseable {
  import Fts5IndexBuilder.{putVarint, varintLen}

  // szLeaf and footer offsets are 2-byte fields; stay well below 64k
  private val hardCap = 60000
  private val spillPath: Path = Files.createTempFile("graft-fts5-idx", ".spill")
  private val spill = new DataOutputStream(new BufferedOutputStream(
    Files.newOutputStream(spillPath)))
  private var pgno = 0 // pages flushed so far
  private val idxRows = ArrayBuffer[(Array[Byte], Int)]() // (term, pgno)

  private var page = new ArrayBuffer[Byte](pgsz + 256)
  private var footer = new ArrayBuffer[Byte](64) // term-offset varints
  private var lastTermOff = 0 // previous footer entry (deltas)
  private var firstRowidOff = 0
  private var pageFirstTerm: Array[Byte] = null // first NEW term on page
  private var prevTerm: Array[Byte] = null // for prefix compression + order check
  private var prevTermOnPage = false
  private var prevRowid = 0L
  private var inDoclist = false
  private var finished = false

  private def newPage(): Unit = {
    page = new ArrayBuffer[Byte](pgsz + 256)
    page ++= Array[Byte](0, 0, 0, 0) // header placeholder
    footer = new ArrayBuffer[Byte](64)
    lastTermOff = 0
    firstRowidOff = 0
    pageFirstTerm = null
    prevTermOnPage = false
  }
  newPage()

  private def flushPage(): Unit = {
    if (page.length <= 4 && pgno > 0) return // nothing buffered
    pgno += 1
    val szLeaf = page.length
    page(0) = ((firstRowidOff >> 8) & 0xFF).toByte
    page(1) = (firstRowidOff & 0xFF).toByte
    page(2) = ((szLeaf >> 8) & 0xFF).toByte
    page(3) = (szLeaf & 0xFF).toByte
    page ++= footer
    val bytes = page.toArray
    spill.writeInt(bytes.length)
    spill.write(bytes)
    // pgno 1 anchors the idx with the empty prefix (observed); later
    // pages index their first NEW term, continuation-only pages none
    if (pgno == 1) idxRows += ((Array.emptyByteArray, 1))
    else if (pageFirstTerm != null) idxRows += ((pageFirstTerm, pgno))
    newPage()
  }

  private def appendVarint(v: Long): Unit = putVarint(page, v)

  /** One (term, rowid, poslist) entry; `term` carries its index-id
    * prefix byte already ('0' = the main term index, '1'… = declared
    * prefix indexes in declaration order); poslist from
    * [[Fts5IndexBuilder.poslist]]. */
  def add(term: Array[Byte], rowid: Long, poslist: Array[Byte]): Unit = {
    require(!finished, "builder already finished")
    val termChanged = prevTerm == null ||
      java.util.Arrays.compare(prevTerm, term) != 0
    if (termChanged) {
      if (prevTerm != null)
        require(java.util.Arrays.compareUnsigned(prevTerm, term) < 0,
          "fts5 index terms must arrive in ascending byte order")
      if (page.length >= pgsz) flushPage()
      val off = page.length
      if (!prevTermOnPage) {
        appendVarint(term.length.toLong)
        page ++= term
        if (pageFirstTerm == null) pageFirstTerm = term
      } else {
        var np = 0
        val max = math.min(prevTerm.length, term.length)
        while (np < max && prevTerm(np) == term(np)) np += 1
        appendVarint(np.toLong)
        appendVarint((term.length - np).toLong)
        var i = np
        while (i < term.length) { page += term(i); i += 1 }
      }
      putVarint(footer, (off - lastTermOff).toLong) // first abs, then deltas
      lastTermOff = off
      prevTerm = term.clone()
      prevTermOnPage = true
      inDoclist = false
    } else {
      require(rowid > prevRowid,
        "fts5 doclist rowids must arrive in ascending order")
    }
    val entrySize = varintLen(rowid) + varintLen(poslist.length * 2L) +
      poslist.length
    if (page.length > 4 && page.length + entrySize > hardCap) flushPage()
    else if (page.length >= pgsz) flushPage()
    val rowidAtPageStart = firstRowidOff == 0 && !prevTermOnPage
    if (rowidAtPageStart) firstRowidOff = page.length
    // absolute at doclist start and at a page's first rowid position
    if (!inDoclist || rowidAtPageStart) appendVarint(rowid)
    else appendVarint(rowid - prevRowid)
    prevRowid = rowid
    inDoclist = true
    appendVarint(poslist.length * 2L)
    // pour poslist bytes, splitting across continuation pages when a
    // single giant poslist would overflow the 2-byte szLeaf field
    var i = 0
    while (i < poslist.length) {
      val space = hardCap - page.length
      if (space <= 0) flushPage()
      else {
        val n = math.min(space, poslist.length - i)
        var j = 0
        while (j < n) { page += poslist(i + j); j += 1 }
        i += n
      }
    }
  }

  /** Close the last page and produce the shadow-table rows. The data
    * iterator streams leaves back from the spill file; call
    * [[close]] after the caller has consumed it. */
  def finish(nRow: Long, colTotals: Seq[Long]): Fts5IndexBuilder.Result = {
    require(!finished, "builder already finished")
    finished = true
    if (page.length > 4) flushPage()
    spill.flush()
    spill.close()
    val averages = {
      val b = new ArrayBuffer[Byte]()
      if (nRow > 0) { putVarint(b, nRow); colTotals.foreach(putVarint(b, _)) }
      b.toArray
    }
    val structure = {
      val b = new ArrayBuffer[Byte]()
      b ++= Array[Byte](0, 0, 0, 0) // config cookie
      if (pgno == 0) { putVarint(b, 0L); putVarint(b, 0L); putVarint(b, 0L) }
      else {
        putVarint(b, 1L) // nLevel
        putVarint(b, 1L) // nSegment
        putVarint(b, pgno.toLong) // write counter: leaves flushed to L0
        putVarint(b, 0L) // level 0: nMerge
        putVarint(b, 1L) // level 0: nSeg
        putVarint(b, 1L) // segid
        putVarint(b, 1L) // pgnoFirst
        putVarint(b, pgno.toLong) // pgnoLast
      }
      b.toArray
    }
    val leaves: Iterator[(Long, Array[Byte])] = {
      val in = new DataInputStream(new BufferedInputStream(
        Files.newInputStream(spillPath)))
      var i = 0
      new Iterator[(Long, Array[Byte])] {
        def hasNext: Boolean = {
          val more = i < pgno
          if (!more) in.close()
          more
        }
        def next(): (Long, Array[Byte]) = {
          i += 1
          val n = in.readInt()
          val bytes = new Array[Byte](n)
          in.readFully(bytes)
          ((1L << 37) + i, bytes)
        }
      }
    }
    Fts5IndexBuilder.Result(
      dataRows = Iterator((1L, averages), (10L, structure)) ++ leaves,
      idxRows = idxRows.toSeq.map { case (t, p) =>
        IndexedSeq[Any](1L, t, (p.toLong << 1))
      })
  }

  def close(): Unit = {
    try spill.close() catch { case _: Exception => }
    Files.deleteIfExists(spillPath)
  }
}

object Fts5IndexBuilder {
  /** `(segid, term, pgno<<1)` idx keys plus the `%_data` rows in
    * ascending rowid order (averages, structure, then leaves). */
  final case class Result(dataRows: Iterator[(Long, Array[Byte])],
      idxRows: Seq[IndexedSeq[Any]])

  private[engine] def putVarint(out: ArrayBuffer[Byte], v0: Long): Unit = {
    // rowids are (1<<37)+pgno and everything else is a length or
    // position — the 9-byte varint form is unreachable by construction
    require(v0 >= 0 && (v0 >>> 56) == 0, s"varint out of range: $v0")
    if (v0 <= 0x7F) { out += v0.toByte; return }
    val tmp = new Array[Byte](9)
    var n = 0
    var v = v0
    while (v != 0) { tmp(n) = (v & 0x7F).toByte; v >>>= 7; n += 1 }
    var i = n - 1
    while (i >= 0) {
      out += (if (i == 0) tmp(i) else (tmp(i) | 0x80).toByte)
      i -= 1
    }
  }

  private[engine] def varintLen(v: Long): Int = {
    var n = 1
    var x = v >>> 7
    while (x != 0) { n += 1; x >>>= 7 }
    n
  }

  /** Poslist bytes for one (term, rowid): `entries` sorted by
    * (col, pos). Positions encode as (delta + 2) varints, delta from
    * 0 at each column start; 0x01 + varint(col) switches columns
    * (column 0 implied). */
  def poslist(entries: Seq[(Int, Int)]): Array[Byte] = {
    val b = new ArrayBuffer[Byte](entries.length + 4)
    var col = 0
    var prev = 0
    entries.foreach { case (c, p) =>
      if (c != col) {
        require(c > col, "poslist entries must be sorted by column")
        b += 0x01
        putVarint(b, c.toLong)
        col = c
        prev = 0
      }
      putVarint(b, (p - prev + 2).toLong)
      prev = p
    }
    b.toArray
  }
}
