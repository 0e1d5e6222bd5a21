package graft.sources

import java.io.{BufferedOutputStream, File}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.types._

/** `gcol` v1 — the graft-log COLUMNAR part-file container, the
  * round-10 replacement for whole-file gzip'd TSV. The row payload
  * keeps the table's canonical cell encoding (the strings the TSV
  * stored, a one-NUL-character cell as the null sentinel) but
  * restructures the container the way parquet does — row-group blocks
  * of per-column
  * chunks plus a footer index — which buys exactly the three things a
  * 10 GB part needs at 100 TB:
  *
  *  - **Splittable.** Each block is an independently-gzipped unit and
  *    the footer records every block's byte offset, so the scan plans
  *    one task per byte RANGE (a block belongs to the range containing
  *    its start offset — the parquet/FileScanRDD split rule) and a big
  *    part file fans out over the cluster instead of serializing into
  *    one task.
  *  - **Columnar.** A block stores one gzip chunk PER COLUMN, so a
  *    2-column projection of a 16-column table decompresses 2/16ths of
  *    the bytes — column pruning skips the I/O, not just the parse.
  *  - **Block stats.** The footer carries per-block numeric min/max,
  *    so pushed comparison filters skip blocks INSIDE a file the same
  *    way manifest stats skip whole files (parquet row-group pruning).
  *
  * Layout:
  * {{{
  *   [block 0: col-0 gzip chunk][col-1 gzip chunk]...[col-n chunk]
  *   [block 1: ...] ...
  *   [footer: gzip'd TSV — cols line + one line per block]
  *   [8-byte big-endian footer byte length][8-byte magic "GCOLv1\n\0"]
  * }}}
  * Footer TSV:
  * {{{
  *   cols \t c1,c2,...
  *   b \t offset \t rows \t firstOrdinal \t len0,len1,... \t c=min,max;... \t enc0,enc1,...
  * }}}
  * A chunk whose block has ≤255 distinct cells (with ≥2 rows per
  * distinct on average) writes DICTIONARY encoding (enc 1): a dict
  * header + one u8 index per row — parquet's dictionary page in
  * miniature; decode materializes each distinct string once and
  * shares the instance across rows. A high-NDV NUMERIC chunk whose
  * every cell round-trips losslessly through its canonical rendering
  * writes TYPED BINARY (enc 2 = int64, enc 3 = float64: null bitmap +
  * 8-byte LE values) — the scan reads values without parsing a single
  * string, and `cell(i)` still reproduces the exact original text for
  * the line-oriented consumers. A LOW-NDV numeric chunk whose cells
  * round-trip writes a TYPED DICTIONARY (enc 4 = int64, enc 5 =
  * float64: entry count + per-entry null flag + 8-byte LE entry +
  * one u8 index per row — dictionary compression AND zero-parse
  * decode). Anything else stays plain newline-terminated text
  * (enc 0).
  * Within a chunk, cells are newline-terminated (strings must not
  * contain tabs/newlines — the format's documented codec contract, so
  * the separator is unambiguous); a block's row ordinals are global
  * (`firstOrdinal + rowInBlock`), which keeps deletion vectors and the
  * `_pos` metadata column exact under any subset of blocks (range
  * split, stats skip). It is the only part-file format graft-log
  * reads: a file without the trailing magic fails in [[readFooter]]. */
object GraftColFile {
  val Extension = ".gcol"
  private val Magic: Array[Byte] =
    "GCOLv1\n\u0000".getBytes(StandardCharsets.ISO_8859_1)
  require(Magic.length == 8)

  /** Default raw (uncompressed) characters per block. Big enough to
    * compress well and keep footer size trivial; small enough that a
    * range split has blocks to balance and block-stats skipping has
    * resolution. */
  val DefaultBlockChars: Long = 4L << 20

  /** Max distinct cells per block for dictionary encoding — indices
    * are one unsigned byte. */
  val MaxDict = 255

  def isCol(file: String): Boolean = file.endsWith(Extension)

  /** UTF-8 byte length without encoding — the raw-size stat is named
    * RawBytesKey and drives byte-targeted rolls (file target, block
    * size), so counting UTF-16 units would under-count CJK-heavy
    * data up to 3x and roll files past their configured byte budget. */
  private[graft] def utf8Len(s: String): Int = {
    var i = 0
    var n = 0
    while (i < s.length) {
      val c = s.charAt(i)
      n += (if (c < 0x80) 1
        else if (c < 0x800) 2
        // a surrogate PAIR encodes to 4 bytes; an UNPAIRED surrogate
        // (malformed UTF-16, e.g. a high half at end of string) is
        // substituted by Java's UTF-8 encoder with '?' — ONE byte, not
        // a 3-byte U+FFFD — and the writer encodes cells via
        // String.getBytes(UTF_8), so the stat must count what the
        // encoder actually emits or byte-targeted rolls drift
        else if (Character.isSurrogate(c))
          (if (Character.isHighSurrogate(c) && i + 1 < s.length &&
            Character.isLowSurrogate(s.charAt(i + 1))) { i += 1; 4 }
          else 1)
        else 3)
      i += 1
    }
    n
  }

  /** One block's footer record. `lens(i)` = compressed byte length of
    * column i's chunk; chunk i starts at `offset + sum(lens(0..i-1))`.
    * `firstOrdinal` = the file-global row ordinal of the block's first
    * row — the DV / `_pos` axis. `stats` = per-block numeric min/max
    * in the manifest's cell encoding (absent for a column whose block
    * saw an unparseable/NaN value — consumers degrade to may-match).
    * `encs(i)` = column i's chunk encoding: 0 = plain newline-
    * terminated cells, 1 = TEXT dictionary (≤255 distinct cells per
    * block: a dict header + one u8 index per row — parquet's
    * dictionary page in miniature; decode materializes each distinct
    * string ONCE), 2/3 = typed binary int64/float64 (null bitmap +
    * 8-byte LE values), 4/5 = TYPED dictionary int64/float64 (binary
    * entries + u8 indices — see [[tryTypedDict]]).
    * Footer lines without the encodings field (early-r10 files) parse
    * as all-plain. */
  final case class BlockMeta(offset: Long, rows: Long,
      lens: Array[Long], firstOrdinal: Long,
      stats: Map[String, (String, String)],
      encs: Array[Int] = Array.empty) {
    def chunkOffset(col: Int): Long = {
      var o = offset; var i = 0
      while (i < col) { o += lens(i); i += 1 }
      o
    }
    def encOf(col: Int): Int = if (col < encs.length) encs(col) else 0
  }

  final case class Footer(cols: Seq[String], blocks: Seq[BlockMeta])

  /** Streaming block writer. `write` takes one row's cells in the
    * file's column order (the same canonical strings the TSV format
    * encoded); blocks flush at `blockTargetChars` raw characters. Call
    * `finish()` exactly once; on failure call `abort()` (the caller
    * deletes the file). */
  final class Writer(path: Path, cols: Seq[String],
      types: Seq[DataType],
      blockTargetChars: Long = DefaultBlockChars) {
    // Column names are footer DELIMITERS: the cols line joins on ','
    // and the stats field on ';'/'='/','. A name carrying one of those
    // (Spark permits backquoted names like `a,b`) would re-parse as a
    // phantom column and shift every chunk offset — reject at write
    // time rather than decode garbage at read time. Tabs/newlines are
    // the cell codec's documented contract.
    cols.foreach(c => require(c.nonEmpty && !c.exists(ch =>
      ch == ',' || ch == ';' || ch == '=' || ch == '\t' || ch == '\n'),
      s"graft-log column name '$c' cannot be encoded: names may not " +
        "be empty or contain ',', ';', '=', tab, or newline"))
    private val out =
      new BufferedOutputStream(Files.newOutputStream(path), 1 << 16)
    private val nCols = cols.length
    // cell buffer per column (the block's worth) + a bounded distinct
    // tracker per column: once a block's column exceeds MaxDict
    // distinct cells it flushes plain; under it, the chunk writes a
    // dictionary + u8 indices (categorical columns decode each
    // distinct string once instead of once per row)
    private val bufs =
      Array.fill(nCols)(ArrayBuffer.empty[String])
    private val distinct = Array.fill(nCols)(
      new java.util.LinkedHashMap[String, Integer]())
    private val tooMany = new Array[Boolean](nCols)
    // 0 = not stats-tracked, 1 = integral (long/int), 2 = double
    private val tag: Array[Int] = types.map {
      case LongType | IntegerType => 1
      case DoubleType => 2
      case _ => 0
    }.toArray
    private val minL = new Array[Long](nCols)
    private val maxL = new Array[Long](nCols)
    private val minD = new Array[Double](nCols)
    private val maxD = new Array[Double](nCols)
    private val seen = new Array[Boolean](nCols)
    private val bad = new Array[Boolean](nCols)
    private var blockRows = 0L
    private var chars = 0L
    private var flushedChars = 0L
    private var totalRows = 0L
    private var written = 0L
    private val blocks = ArrayBuffer.empty[BlockMeta]

    def write(cells: Array[String]): Unit = {
      var i = 0
      while (i < nCols) {
        val c = cells(i)
        bufs(i) += c
        chars += utf8Len(c) + 1
        if (!tooMany(i) && !distinct(i).containsKey(c)) {
          if (distinct(i).size >= MaxDict) tooMany(i) = true
          else distinct(i).put(c, distinct(i).size)
        }
        if (tag(i) != 0 && !bad(i) && c != GraftLog.NullCell) {
          // NaN/Infinity (or a frozen writer's junk) poisons the
          // block's stats for that column: Spark orders NaN above
          // every value, so a NaN-excluding max could wrongly skip —
          // drop the column's block stats instead (may-match).
          if (tag(i) == 1) {
            try {
              val v = java.lang.Long.parseLong(c)
              if (!seen(i)) { minL(i) = v; maxL(i) = v; seen(i) = true }
              else {
                if (v < minL(i)) minL(i) = v
                if (v > maxL(i)) maxL(i) = v
              }
            } catch { case _: NumberFormatException => bad(i) = true }
          } else {
            // parse guarded like the long branch: a cell that does
            // not parse must drop the column's block stats, not crash
            // the write task
            val v = try java.lang.Double.parseDouble(c)
              catch { case _: NumberFormatException => Double.NaN }
            if (java.lang.Double.isNaN(v) ||
                java.lang.Double.isInfinite(v)) bad(i) = true
            else if (!seen(i)) { minD(i) = v; maxD(i) = v; seen(i) = true }
            else {
              if (v < minD(i)) minD(i) = v
              if (v > maxD(i)) maxD(i) = v
            }
          }
        }
        i += 1
      }
      blockRows += 1
      totalRows += 1
      if (chars >= blockTargetChars) flushBlock()
    }

    /** Typed-binary payload for a numeric chunk — taken ONLY when
      * every non-null cell round-trips losslessly through its
      * canonical rendering (Long.toString / Double.toString), so the
      * decoded chunk can reproduce the exact cell text (NDV hashing
      * and the oracle see identical bytes). A non-canonical cell — an
      * INT-style '7' under a DOUBLE column, whose rendering is '7.0' —
      * falls back to plain text for the whole chunk, so a chunk
      * always reads back the text it was given. Layout: [ceil(rows/8)
      * null bitmap][8B LE per row] — nulls carry a zero slot. Returns
      * null when ineligible. */
    private def tryBinary(cells: ArrayBuffer[String],
        t: Int): Array[Byte] = {
      val n = cells.length
      val bitmap = new Array[Byte]((n + 7) >> 3)
      val buf = ByteBuffer.allocate(bitmap.length + 8 * n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.position(bitmap.length)
      var r = 0
      try {
        while (r < n) {
          val c = cells(r)
          if (c == GraftLog.NullCell) {
            bitmap(r >> 3) = (bitmap(r >> 3) | (1 << (r & 7))).toByte
            buf.putLong(0L)
          } else if (t == 1) {
            val v = java.lang.Long.parseLong(c)
            if (!java.lang.Long.toString(v).equals(c)) return null
            buf.putLong(v)
          } else {
            val v = java.lang.Double.parseDouble(c)
            if (!java.lang.Double.toString(v).equals(c)) return null
            buf.putLong(java.lang.Double.doubleToRawLongBits(v))
          }
          r += 1
        }
      } catch { case _: NumberFormatException => return null }
      val out = buf.array()
      System.arraycopy(bitmap, 0, out, 0, bitmap.length)
      out
    }

    /** Typed-dictionary payload for a LOW-NDV numeric chunk — the
      * dictionary entries are 8-byte binary values instead of text,
      * so the scan's per-block decode parses NOTHING (matching the
      * enc-2/3 typed path) while rows still cost one u8 index each.
      * Same lossless round-trip rule as [[tryBinary]], checked over
      * the ≤255 DISTINCT entries only. Layout: [u8 dictCount]
      * [dictCount × (u8 isNull + 8B LE bits)][u8 index per row].
      * Returns null when any entry is ineligible (falls back to the
      * string dictionary). */
    private def tryTypedDict(cells: ArrayBuffer[String],
        dict: java.util.LinkedHashMap[String, Integer],
        t: Int): Array[Byte] = {
      val size = dict.size
      val out = new Array[Byte](1 + 9 * size + cells.length)
      out(0) = size.toByte
      val bb = ByteBuffer.wrap(out, 1, 9 * size)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val it = dict.keySet.iterator()
      try {
        while (it.hasNext) {
          val c = it.next()
          if (c == GraftLog.NullCell) { bb.put(1.toByte); bb.putLong(0L) }
          else if (t == 1) {
            val v = java.lang.Long.parseLong(c)
            if (!java.lang.Long.toString(v).equals(c)) return null
            bb.put(0.toByte); bb.putLong(v)
          } else {
            val v = java.lang.Double.parseDouble(c)
            if (!java.lang.Double.toString(v).equals(c)) return null
            bb.put(0.toByte)
            bb.putLong(java.lang.Double.doubleToRawLongBits(v))
          }
        }
      } catch { case _: NumberFormatException => return null }
      fillIndexBytes(out, 1 + 9 * size, cells, dict)
      out
    }

    /** One u8 dictionary index per row, written into `out` at `base` —
      * THE index-assignment rule, shared by the text and typed dict
      * encodings so the two can never diverge (a widened index or a
      * re-sorted dictionary changes both or neither). */
    private def fillIndexBytes(out: Array[Byte], base: Int,
        cells: ArrayBuffer[String],
        dict: java.util.LinkedHashMap[String, Integer]): Unit = {
      var r = 0
      while (r < cells.length) {
        out(base + r) = dict.get(cells(r)).intValue.toByte
        r += 1
      }
    }

    private def flushBlock(): Unit = {
      if (blockRows == 0L) return
      val lens = new Array[Long](nCols)
      val encs = new Array[Int](nCols)
      val offset = written
      var i = 0
      while (i < nCols) {
        val cells = bufs(i)
        // dictionary pays when the block repeats values: ≤MaxDict
        // distinct AND at least 2 rows per distinct on average
        val useDict = !tooMany(i) &&
          distinct(i).size.toLong * 2 <= cells.length
        val bytes =
          if (useDict) {
            // a low-NDV NUMERIC chunk prefers the TYPED dict (binary
            // entries, zero parsing on decode); text entries only
            // when a cell doesn't round-trip its canonical rendering
            val typed =
              if (tag(i) != 0) tryTypedDict(cells, distinct(i), tag(i))
              else null
            if (typed != null) {
              encs(i) = if (tag(i) == 1) 4 else 5
              gzip(typed)
            } else {
            encs(i) = 1
            val dict = distinct(i)
            val sb = new java.lang.StringBuilder
            sb.append(dict.size).append('\n')
            dict.keySet.forEach(k => sb.append(k).append('\n'))
            val head = sb.toString.getBytes(StandardCharsets.UTF_8)
            val idx = new Array[Byte](cells.length)
            fillIndexBytes(idx, 0, cells, distinct(i))
            val payload = new Array[Byte](head.length + idx.length)
            System.arraycopy(head, 0, payload, 0, head.length)
            System.arraycopy(idx, 0, payload, head.length, idx.length)
            gzip(payload)
            }
          } else {
            val bin =
              if (tag(i) != 0) tryBinary(cells, tag(i)) else null
            if (bin != null) {
              encs(i) = if (tag(i) == 1) 2 else 3
              gzip(bin)
            } else {
              val sb = new java.lang.StringBuilder
              cells.foreach(c => sb.append(c).append('\n'))
              gzip(sb.toString.getBytes(StandardCharsets.UTF_8))
            }
          }
        out.write(bytes)
        lens(i) = bytes.length.toLong
        written += bytes.length
        bufs(i).clear()
        distinct(i).clear()
        tooMany(i) = false
        i += 1
      }
      val stats = (0 until nCols).collect {
        case c if seen(c) && !bad(c) =>
          val (mn, mx) =
            if (tag(c) == 1) (minL(c).toString, maxL(c).toString)
            else (java.lang.Double.toString(minD(c)),
              java.lang.Double.toString(maxD(c)))
          cols(c) -> (mn, mx)
      }.toMap
      blocks += BlockMeta(offset, blockRows, lens,
        totalRows - blockRows, stats, encs)
      java.util.Arrays.fill(seen, false)
      java.util.Arrays.fill(bad, false)
      blockRows = 0L
      flushedChars += chars
      chars = 0L
    }

    /** Raw characters buffered + flushed so far — the caller's file-
      * roll axis (every write bounds its files by raw size). */
    def rawChars: Long = flushedChars + chars

    /** Raw characters currently BUFFERED (unflushed block) — the
      * task-memory axis: a partitioned write task holding many open
      * part files sums these against its task-wide cap. */
    def bufferedChars: Long = chars

    /** Flush the current block early (caller-driven memory relief for
      * multi-file tasks). Blocks stay independently decodable; an
      * early flush just yields a smaller block. */
    def flushNow(): Unit = flushBlock()

    def rows: Long = totalRows

    def finish(): Long = {
      flushBlock()
      val sb = new java.lang.StringBuilder
      sb.append("cols\t").append(cols.mkString(",")).append('\n')
      blocks.foreach { b =>
        sb.append("b\t").append(b.offset).append('\t').append(b.rows)
          .append('\t').append(b.firstOrdinal).append('\t')
          .append(b.lens.mkString(",")).append('\t')
          .append(b.stats.toSeq.sortBy(_._1)
            .map { case (c, (mn, mx)) => s"$c=$mn,$mx" }
            .mkString(";"))
          .append('\t').append(b.encs.mkString(","))
          .append('\n')
      }
      val footer = gzip(sb.toString.getBytes(StandardCharsets.UTF_8))
      out.write(footer)
      val trailer = ByteBuffer.allocate(16)
      trailer.putLong(footer.length.toLong)
      trailer.put(Magic)
      out.write(trailer.array())
      out.close()
      totalRows
    }

    def abort(): Unit =
      try out.close() catch { case _: Exception => () }
  }

  def readFooter(f: File): Footer = {
    val ch = FileChannel.open(f.toPath, StandardOpenOption.READ)
    try readFooter(ch, f)
    finally ch.close()
  }

  def readFooter(ch: FileChannel, f: File): Footer = {
    val size = ch.size()
    require(size >= 16, s"not a gcol file (too small): $f")
    val trailer = ByteBuffer.allocate(16)
    readFully(ch, trailer, size - 16)
    trailer.flip()
    val footerLen = trailer.getLong()
    val magic = new Array[Byte](8)
    trailer.get(magic)
    require(java.util.Arrays.equals(magic, Magic),
      s"not a gcol file (bad magic): $f")
    require(footerLen > 0 && footerLen <= size - 16,
      s"corrupt gcol footer length $footerLen in $f")
    val fb = ByteBuffer.allocate(footerLen.toInt)
    readFully(ch, fb, size - 16 - footerLen)
    val text = new String(gunzip(fb.array()), StandardCharsets.UTF_8)
    var cols: Seq[String] = Seq.empty
    val blocks = ArrayBuffer.empty[BlockMeta]
    text.linesIterator.foreach { l =>
      val cells = l.split("\t", -1)
      cells(0) match {
        case "cols" =>
          cols = cells(1).split(",", -1).filter(_.nonEmpty).toSeq
        case "b" =>
          val stats =
            if (cells.length < 6 || cells(5).isEmpty)
              Map.empty[String, (String, String)]
            else cells(5).split(";").flatMap { kv =>
              val eq = kv.indexOf('=')
              val comma = kv.lastIndexOf(',')
              if (eq < 0 || comma <= eq) None
              else Some(kv.substring(0, eq) ->
                (kv.substring(eq + 1, comma), kv.substring(comma + 1)))
            }.toMap
          val encs =
            if (cells.length < 7 || cells(6).isEmpty) Array.empty[Int]
            else cells(6).split(",", -1).map(_.toInt)
          blocks += BlockMeta(cells(1).toLong, cells(2).toLong,
            cells(4).split(",", -1).filter(_.nonEmpty).map(_.toLong),
            cells(3).toLong, stats, encs)
        case _ => ()
      }
    }
    Footer(cols, blocks.toSeq)
  }

  /** A decoded chunk: every cell materialized (plain), the dictionary
    * + per-row u8 indices (dict chunks stay in index form so consumers
    * decode each DISTINCT value once), or typed binary values (numeric
    * chunks skip string parsing entirely). `cell(i)` materializes the
    * CANONICAL cell text either way for callers that want strings —
    * binary encodings are only chosen when every cell round-trips
    * losslessly through its canonical rendering, so `cell` reproduces
    * the exact bytes the writer was handed. */
  sealed trait Chunk {
    def cell(i: Int): String
  }
  final case class PlainChunk(cells: Array[String]) extends Chunk {
    def cell(i: Int): String = cells(i)
  }
  final case class DictChunk(dict: Array[String],
      idx: Array[Byte]) extends Chunk {
    def cell(i: Int): String = dict(idx(i) & 0xff)
  }
  final case class LongsChunk(values: Array[Long],
      nulls: Array[Boolean]) extends Chunk {
    def cell(i: Int): String =
      if (nulls(i)) GraftLog.NullCell
      else java.lang.Long.toString(values(i))
  }
  final case class DoublesChunk(values: Array[Double],
      nulls: Array[Boolean]) extends Chunk {
    def cell(i: Int): String =
      if (nulls(i)) GraftLog.NullCell
      else java.lang.Double.toString(values(i))
  }
  /** Typed dictionaries: ≤255 DISTINCT binary values + u8 row
    * indices — the consumer reads numbers with no parsing at all, and
    * `cell` renders each distinct's canonical text at most ONCE. */
  final case class LongDictChunk(dict: Array[Long],
      dictNulls: Array[Boolean], idx: Array[Byte]) extends Chunk {
    private lazy val text: Array[String] = Array.tabulate(dict.length)(
      d => if (dictNulls(d)) GraftLog.NullCell
           else java.lang.Long.toString(dict(d)))
    def cell(i: Int): String = text(idx(i) & 0xff)
  }
  final case class DoubleDictChunk(dict: Array[Double],
      dictNulls: Array[Boolean], idx: Array[Byte]) extends Chunk {
    private lazy val text: Array[String] = Array.tabulate(dict.length)(
      d => if (dictNulls(d)) GraftLog.NullCell
           else java.lang.Double.toString(dict(d)))
    def cell(i: Int): String = text(idx(i) & 0xff)
  }

  /** Decode one block's column chunk. */
  def readChunk(ch: FileChannel, b: BlockMeta, col: Int): Chunk = {
    val buf = ByteBuffer.allocate(b.lens(col).toInt)
    readFully(ch, buf, b.chunkOffset(col))
    val raw = gunzip(buf.array())
    val n = b.rows.toInt
    if (b.encOf(col) == 2 || b.encOf(col) == 3) {
      // [ceil(rows/8) null bitmap][8-byte LE value per row]
      val bmLen = (n + 7) >> 3
      val nulls = new Array[Boolean](n)
      var i = 0
      while (i < n) {
        nulls(i) = (raw(i >> 3) & (1 << (i & 7))) != 0
        i += 1
      }
      val bb = ByteBuffer.wrap(raw, bmLen, 8 * n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      if (b.encOf(col) == 2) {
        val vs = new Array[Long](n)
        var r = 0
        while (r < n) { vs(r) = bb.getLong(); r += 1 }
        LongsChunk(vs, nulls)
      } else {
        val vs = new Array[Double](n)
        var r = 0
        while (r < n) {
          vs(r) = java.lang.Double.longBitsToDouble(bb.getLong())
          r += 1
        }
        DoublesChunk(vs, nulls)
      }
    } else if (b.encOf(col) == 4 || b.encOf(col) == 5) {
      // [u8 dictCount][count × (u8 isNull + 8B LE bits)][u8 idx/row]
      val size = raw(0) & 0xff
      val dictNulls = new Array[Boolean](size)
      val bb = ByteBuffer.wrap(raw, 1, 9 * size)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val idx = new Array[Byte](n)
      System.arraycopy(raw, 1 + 9 * size, idx, 0, n)
      if (b.encOf(col) == 4) {
        val dict = new Array[Long](size)
        var d = 0
        while (d < size) {
          dictNulls(d) = bb.get() != 0
          dict(d) = bb.getLong()
          d += 1
        }
        LongDictChunk(dict, dictNulls, idx)
      } else {
        val dict = new Array[Double](size)
        var d = 0
        while (d < size) {
          dictNulls(d) = bb.get() != 0
          dict(d) = java.lang.Double.longBitsToDouble(bb.getLong())
          d += 1
        }
        DoubleDictChunk(dict, dictNulls, idx)
      }
    } else if (b.encOf(col) == 1) {
      // [dictSize '\n'][dict cells '\n'-terminated][u8 index per row]
      var p = 0
      while (raw(p) != '\n') p += 1
      val dictSize = new String(raw, 0, p,
        StandardCharsets.UTF_8).toInt
      p += 1
      val dict = new Array[String](dictSize)
      var d = 0
      while (d < dictSize) {
        var e = p
        while (raw(e) != '\n') e += 1
        dict(d) = new String(raw, p, e - p, StandardCharsets.UTF_8)
        p = e + 1
        d += 1
      }
      val idx = new Array[Byte](n)
      System.arraycopy(raw, p, idx, 0, n)
      DictChunk(dict, idx)
    } else {
      val text = new String(raw, StandardCharsets.UTF_8)
      val out = new Array[String](n)
      var start = 0
      var i = 0
      while (i < n) {
        val nl = text.indexOf('\n', start)
        out(i) = text.substring(start, nl)
        start = nl + 1
        i += 1
      }
      PlainChunk(out)
    }
  }

  private def readFully(ch: FileChannel, buf: ByteBuffer,
      pos: Long): Unit = {
    var p = pos
    while (buf.hasRemaining) {
      val n = ch.read(buf, p)
      require(n >= 0, "unexpected EOF reading gcol")
      p += n
    }
  }

  def gzip(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(
      math.max(64, bytes.length / 4))
    val gz = new GZIPOutputStream(bos, 1 << 14)
    gz.write(bytes)
    gz.close()
    bos.toByteArray
  }

  def gunzip(bytes: Array[Byte]): Array[Byte] = {
    val in = new GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes), 1 << 14)
    val bos = new java.io.ByteArrayOutputStream(
      math.max(64, bytes.length * 3))
    val buf = new Array[Byte](1 << 14)
    var n = in.read(buf)
    while (n >= 0) {
      bos.write(buf, 0, n)
      n = in.read(buf)
    }
    in.close()
    bos.toByteArray
  }
}
