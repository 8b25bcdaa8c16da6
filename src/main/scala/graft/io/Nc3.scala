package graft.io

import java.io.{DataInputStream, DataOutputStream, BufferedInputStream, BufferedOutputStream, FileInputStream, FileOutputStream, RandomAccessFile}
import graft.io.SyntheticGrid.GridSpec

/** NetCDF-3 "classic" container support, JDK-only (VERDICT r2 item 2).
  *
  * The reference reads HYCOM as netCDF over OPeNDAP
  * (trackplot_hycom.py:144,244). This module reads (and, for
  * fixtures, writes) that public on-disk format — the NetCDF Classic
  * Format Specification (CDF-1 magic `CDF\x01`, CDF-2 64-bit-offset
  * `CDF\x02`), which is a flat big-endian header + dense row-major
  * data and needs no codec library:
  *
  * {{{
  *   header  = magic numrecs dim_list gatt_list var_list
  *   dim     = name(int len + bytes, 4-padded) length      // 0 = record dim
  *   attr    = name nc_type nelems values(4-padded)
  *   var     = name rank dimids att_list nc_type vsize begin(4B v1 / 8B v2)
  *   data    = fixed vars contiguous at begin;
  *             record vars interleaved: record r of v at begin_v + r·recSize
  * }}}
  *
  * Supported (the HYCOM surface): numeric types short/int/float/double
  * plus char attributes; CF packing via `scale_factor`/`add_offset`;
  * `_FillValue`/`missing_value` → SQL null (HYCOM publishes water_temp
  * and salinity as short-packed with exactly these attributes); the
  * time axis as either a fixed dim or the unlimited record dim.
  *
  * Header parsing is driver-side (KBs); bulk data is read
  * slab-parallel by [[GridIngest.ingestNc]] — each task seeks straight
  * to its (t, d) plane using [[Nc3.SlabReader]], the distributed analog
  * of the reference's per-point hyperslab requests. On a cluster the
  * `RandomAccessFile` becomes any seekable stream (HDFS/S3 ranged GET).
  */
object Nc3 {

  // nc_type codes (public spec)
  val NcByte = 1; val NcChar = 2; val NcShort = 3
  val NcInt = 4; val NcFloat = 5; val NcDouble = 6

  def typeSize(t: Int): Int = t match {
    case NcByte | NcChar => 1
    case NcShort => 2
    case NcInt | NcFloat => 4
    case NcDouble => 8
    case other => throw new IllegalArgumentException(s"unsupported nc_type $other")
  }

  final case class Dim(name: String, length: Int) { def isRecord: Boolean = length == 0 }

  /** Attribute value: numeric values widened to Double, chars to String. */
  final case class Att(name: String, num: Seq[Double], str: String)

  final case class Variable(name: String, dimIds: Seq[Int], ncType: Int,
                            atts: Seq[Att], vsize: Long, begin: Long) {
    def att(n: String): Option[Att] = atts.find(_.name == n)
    def numAtt(n: String): Option[Double] = att(n).flatMap(_.num.headOption)
  }

  final case class Header(version: Int, numRecs: Int, dims: Seq[Dim],
                          gatts: Seq[Att], vars: Seq[Variable]) {
    val recDimId: Int = dims.indexWhere(_.isRecord)
    def isRecordVar(v: Variable): Boolean = v.dimIds.headOption.contains(recDimId) && recDimId >= 0
    def variable(name: String): Variable =
      vars.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no variable '$name' (have ${vars.map(_.name).mkString(",")})"))
    /** Length of dim i as seen by data (record dim → numRecs). */
    def dimLen(i: Int): Int = if (i == recDimId) numRecs else dims(i).length
    def shape(v: Variable): Seq[Int] = v.dimIds.map(dimLen)

    /** Bytes between consecutive records: sum of record-var vsizes
      * (each stored 4-padded), EXCEPT the spec's single-record-var
      * case where the one variable's records pack unpadded.
      */
    val recSize: Long = {
      val rvs = vars.filter(isRecordVar)
      if (rvs.size == 1) {
        val v = rvs.head
        v.dimIds.tail.map(dimLen(_).toLong).product * typeSize(v.ncType)
      } else rvs.map(_.vsize).sum
    }
  }

  // ------------------------------------------------------------ parse

  def readHeader(path: String): Header = {
    val h = new HeaderIn(path)
    val in = h.in
    try {
      require(in.readByte() == 'C' && in.readByte() == 'D' && in.readByte() == 'F',
        s"$path: not a NetCDF classic file")
      val version = in.readByte().toInt
      require(version == 1 || version == 2, s"$path: unsupported CDF version $version")
      val numRecs = h.count(in.readInt(), 0, "numrecs")
      // minimum entry sizes: dim = name + length; var = name, rank,
      // empty att list, nc_type, vsize, begin
      val dims = readTaggedList(h, 0x0A, "dim", 8) { _ =>
        val name = readName(h)
        Dim(name, h.count(in.readInt(), 1, s"dim '$name' length"))
      }
      val gatts = readAttList(h)
      val vars = readTaggedList(h, 0x0B, "variable", 28) { _ =>
        val name = readName(h)
        val rank = h.count(in.readInt(), 4, s"variable '$name' rank")
        val dimIds = Seq.fill(rank)(in.readInt())
        dimIds.foreach(i => require(i >= 0 && i < dims.size,
          s"$path: variable '$name' dim id $i out of range (${dims.size} dims)"))
        val atts = readAttList(h)
        val ncType = in.readInt()
        val vsize = in.readInt().toLong & 0xFFFFFFFFL
        val begin = if (version == 1) in.readInt().toLong & 0xFFFFFFFFL else in.readLong()
        Variable(name, dimIds, ncType, atts, vsize, begin)
      }
      Header(version, numRecs, dims, gatts, vars)
    } finally in.close()
  }

  /** Header input that tracks how many bytes of the file are left, so
    * each length and count read from a hostile or truncated header is
    * checked before anything is allocated or looped over.
    */
  private final class HeaderIn(val path: String) {
    private val fileLen = new java.io.File(path).length()
    private var consumed = 0L
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(path)) {
      override def read(): Int = { val b = super.read(); if (b >= 0) consumed += 1; b }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val n = super.read(b, off, len); if (n > 0) consumed += n; n
      }
      override def skip(n: Long): Long = { val k = super.skip(n); consumed += k; k }
    })

    /** `n` entries of at least `entryBytes` each: n ≥ 0 and they fit in
      * the rest of the file, else IllegalArgumentException naming `field`.
      */
    def count(n: Int, entryBytes: Long, field: => String): Int = {
      require(n >= 0 && n * entryBytes <= fileLen - consumed,
        s"$path: $field $n out of range (${fileLen - consumed} bytes left in the file)")
      n
    }
  }

  private def readTaggedList[A](h: HeaderIn, tag: Int, what: String, entryBytes: Long)(
      read: Int => A): Seq[A] = {
    val t = h.in.readInt(); val n = h.count(h.in.readInt(), entryBytes, s"$what count")
    require(t == tag || (t == 0 && n == 0), s"${h.path}: bad $what list tag 0x${t.toHexString}")
    (0 until n).map(read)
  }

  private def readName(h: HeaderIn): String = {
    val n = h.count(h.in.readInt(), 1, "name length")
    val bytes = new Array[Byte](n)
    h.in.readFully(bytes)
    skipPad(h.in, n)
    new String(bytes, "UTF-8")
  }

  private def skipPad(in: DataInputStream, consumed: Long): Unit = {
    val rem = ((4 - (consumed % 4)) % 4).toInt
    if (rem > 0) in.skipBytes(rem)
  }

  private def readAttList(h: HeaderIn): Seq[Att] =
    // minimum entry: name + nc_type + nelems
    readTaggedList(h, 0x0C, "attribute", 12) { _ =>
      val in = h.in
      val name = readName(h)
      val t = in.readInt()
      // typeSize rejects CDF-5 types (int64 etc.) and junk codes
      val n = h.count(in.readInt(), typeSize(t), s"attribute '$name' value count")
      t match {
        case NcChar =>
          val bytes = new Array[Byte](n)
          in.readFully(bytes); skipPad(in, n)
          Att(name, Nil, new String(bytes, "UTF-8"))
        case _ =>
          val vals = (0 until n).map { _ =>
            t match {
              case NcByte => in.readByte().toDouble
              case NcShort => in.readShort().toDouble
              case NcInt => in.readInt().toDouble
              case NcFloat => in.readFloat().toDouble
              case NcDouble => in.readDouble()
            }
          }
          skipPad(in, n.toLong * typeSize(t))
          Att(name, vals, "")
      }
    }

  // ------------------------------------------------- driver-side axes

  /** Full values of a small (axis) variable, CF-unpacked, fills → NaN.
    * Driver-side — axes are KBs; bulk variables go through SlabReader.
    */
  def readAxis(path: String, hdr: Header, name: String): Array[Double] = {
    val v = hdr.variable(name)
    require(v.dimIds.size <= 1, s"$name is not an axis variable")
    val n = v.dimIds.headOption.map(hdr.dimLen).getOrElse(1)
    val dec = decoderOf(hdr, v)
    val ts = typeSize(v.ncType)
    val raf = new RandomAccessFile(path, "r")
    try {
      // last byte read: the final record's value, or the end of the
      // contiguous block — checked before allocating n values
      val end =
        if (hdr.isRecordVar(v)) v.begin + (n - 1L) * hdr.recSize + ts
        else v.begin + n.toLong * ts
      require(n == 0 || (v.begin >= 0 && end <= raf.length()),
        s"$path: variable '$name' data [${v.begin}, $end) past the end of the file (${raf.length()} bytes)")
      val out = new Array[Double](n)
      if (hdr.isRecordVar(v)) {
        val buf = new Array[Byte](ts)
        var r = 0
        while (r < n) {
          raf.seek(v.begin + r * hdr.recSize)
          raf.readFully(buf)
          out(r) = dec.decode(java.nio.ByteBuffer.wrap(buf), 0).getOrElse(Double.NaN)
          r += 1
        }
      } else {
        val buf = new Array[Byte](n * ts)
        raf.seek(v.begin)
        raf.readFully(buf)
        val bb = java.nio.ByteBuffer.wrap(buf)
        var i = 0
        while (i < n) { out(i) = dec.decode(bb, i).getOrElse(Double.NaN); i += 1 }
      }
      out
    } finally raf.close()
  }

  /** Per-variable decode recipe — small and Serializable, captured by
    * executor closures instead of the full header.
    */
  final case class Decoder(ncType: Int, fill: Option[Double], scale: Double,
                           offset: Double) extends Serializable {
    /** Raw value i of a big-endian buffer, unpacked; None if fill. */
    def decode(bb: java.nio.ByteBuffer, i: Int): Option[Double] = {
      val raw: Double = ncType match {
        case NcByte => bb.get(i).toDouble
        case NcShort => bb.getShort(i * 2).toDouble
        case NcInt => bb.getInt(i * 4).toDouble
        case NcFloat => bb.getFloat(i * 4).toDouble
        case NcDouble => bb.getDouble(i * 8)
      }
      if (fill.contains(raw) || raw.isNaN) None
      else Some(raw * scale + offset)
    }
  }

  def decoderOf(hdr: Header, v: Variable): Decoder =
    Decoder(v.ncType,
      v.numAtt("_FillValue").orElse(v.numAtt("missing_value")),
      v.numAtt("scale_factor").getOrElse(1.0),
      v.numAtt("add_offset").getOrElse(0.0))

  /** Seek-and-decode access to one 4-D variable's (t, d) planes —
    * Serializable; executors capture only offsets and the decode
    * recipe, never the parsed header.
    */
  final case class SlabReader(begin: Long, isRecord: Boolean, recSize: Long,
                              nD: Int, planeCells: Int, dec: Decoder)
      extends Serializable {
    def typeBytes: Int = typeSize(dec.ncType)
    def planeBytes: Int = planeCells * typeBytes

    /** Byte offset of plane (t, d). */
    def planeOffset(t: Int, d: Int): Long =
      if (isRecord) begin + t * recSize + d.toLong * planeBytes
      else begin + (t.toLong * nD + d) * planeBytes

    def readPlane(raf: RandomAccessFile, t: Int, d: Int, buf: Array[Byte]): java.nio.ByteBuffer = {
      raf.seek(planeOffset(t, d))
      raf.readFully(buf, 0, planeBytes)
      java.nio.ByteBuffer.wrap(buf)
    }
  }

  def slabReaderOf(hdr: Header, v: Variable, nD: Int, planeCells: Int): SlabReader =
    SlabReader(v.begin, hdr.isRecordVar(v), hdr.recSize, nD, planeCells, decoderOf(hdr, v))

  /** Derive the engine's canonical [[GridSpec]] from a HYCOM-shaped
    * file: 1-D axes `time/depth/lat/lon` validated by
    * [[SyntheticGrid.specFromAxes]] (non-empty, uniform lat/lon — HYCOM
    * GLBu grids are), time values taken as integral hours (the public
    * HYCOM convention, `units = "hours since 2000-01-01 00:00:00"`).
    */
  def gridSpecOf(path: String, hdr: Header): GridSpec =
    SyntheticGrid.specFromAxes(
      readAxis(path, hdr, "time").map(t => math.round(t)).toSeq,
      readAxis(path, hdr, "depth").toSeq,
      readAxis(path, hdr, "lat"), readAxis(path, hdr, "lon"))

  // --------------------------------------------------------- writer

  /** Fixture/dev writer: dump a long-format grid DataFrame (the
    * [[SyntheticGrid]] shape) as a CDF-1 classic file, HYCOM-style:
    * axes time/depth/lat/lon + two data variables. Driver-side collect,
    * small fixtures only (the committed `data/hermine_subset.nc` is
    * written with it).
    *
    * @param packShort  store data vars as CF short-packed
    *                   (scale_factor/add_offset/_FillValue = -30000)
    *                   like real HYCOM, vs plain doubles
    * @param recordTime make time the unlimited record dimension (the
    *                   OPeNDAP delivery shape), vs a fixed dim
    */
  def write(grid: org.apache.spark.sql.DataFrame, spec: GridSpec, path: String,
            packShort: Boolean = true, recordTime: Boolean = true): Unit = {
    val nT = spec.times.size; val nD = spec.depths.size
    val nY = spec.nLat; val nX = spec.nLon
    val planeCells = nY * nX
    val n = nT.toLong * nD * planeCells
    require(n < Int.MaxValue / 4, "Nc3.write is a small-fixture utility")

    // dense row-major value arrays (NaN = missing)
    val temp = Array.fill(n.toInt)(Double.NaN)
    val sal = Array.fill(n.toInt)(Double.NaN)
    val tIdx = spec.times.zipWithIndex.toMap
    grid.select("time", "depth_idx", "lat_idx", "lon_idx", "water_temp", "salinity")
      .collect()
      .foreach { r =>
        val off = (((tIdx(r.getLong(0)).toLong * nD + r.getInt(1)) * nY + r.getInt(2)) * nX + r.getInt(3)).toInt
        if (!r.isNullAt(4)) temp(off) = r.getDouble(4)
        if (!r.isNullAt(5)) sal(off) = r.getDouble(5)
      }

    // CF packing: data = (value - offset) / scale, rounded to short
    val (dataType, scale, addOff, fillRaw) =
      if (packShort) (NcShort, 0.001, 20.0, -30000.0) else (NcDouble, 1.0, 0.0, -30000.0)

    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    try {
      def pad(consumed: Long): Unit = {
        var rem = ((4 - (consumed % 4)) % 4).toInt
        while (rem > 0) { out.writeByte(0); rem -= 1 }
      }
      def writeName(s: String): Unit = {
        val b = s.getBytes("UTF-8")
        out.writeInt(b.length); out.write(b); pad(b.length)
      }
      def nameBytes(s: String): Long = 4L + s.getBytes("UTF-8").length + ((4 - (s.length % 4)) % 4)

      // ---- layout computation (begins must be known before writing)
      val dims = Seq(("time", if (recordTime) 0 else nT), ("depth", nD), ("lat", nY), ("lon", nX))
      case class V(name: String, dimIds: Seq[Int], ncType: Int, atts: Seq[(String, Either[String, (Int, Seq[Double])])])
      val dataAtts: Seq[(String, Either[String, (Int, Seq[Double])])] =
        if (packShort) Seq(
          "_FillValue" -> Right((NcShort, Seq(fillRaw))),
          "scale_factor" -> Right((NcDouble, Seq(scale))),
          "add_offset" -> Right((NcDouble, Seq(addOff))),
          "units" -> Left("degC-or-psu"))
        else Seq("_FillValue" -> Right((NcDouble, Seq(fillRaw))))
      val vars = Seq(
        V("time", Seq(0), NcDouble, Seq("units" -> Left("hours since 2000-01-01 00:00:00"))),
        V("depth", Seq(1), NcDouble, Seq("units" -> Left("m"))),
        V("lat", Seq(2), NcDouble, Seq("units" -> Left("degrees_north"))),
        V("lon", Seq(3), NcDouble, Seq("units" -> Left("degrees_east"))),
        V("water_temp", Seq(0, 1, 2, 3), dataType, dataAtts),
        V("salinity", Seq(0, 1, 2, 3), dataType, dataAtts))

      def attBytes(atts: Seq[(String, Either[String, (Int, Seq[Double])])]): Long =
        if (atts.isEmpty) 8L
        else 8L + atts.map { case (an, av) =>
          nameBytes(an) + 8L + (av match {
            case Left(s) => val l = s.getBytes("UTF-8").length.toLong; l + ((4 - (l % 4)) % 4)
            case Right((t, vs)) => val l = vs.size.toLong * typeSize(t); l + ((4 - (l % 4)) % 4)
          })
        }.sum

      // spec: product of dim lengths OMITTING the record dim, padded
      def vsizeOf(v: V): Long = {
        val cells = v.dimIds.filterNot(i => recordTime && i == 0)
          .map(dims(_)._2.toLong).product
        val raw = cells * typeSize(v.ncType)
        raw + ((4 - (raw % 4)) % 4)
      }
      // per-record size for record vars / full size for fixed vars
      def fullBytes(v: V): Long =
        if (recordTime && v.dimIds.headOption.contains(0))
          vsizeOf(v) // per-record, padded (>1 record vars in this file)
        else {
          val cells = v.dimIds.map(dims(_)._2.toLong).product
          val raw = cells * typeSize(v.ncType)
          raw + ((4 - (raw % 4)) % 4)
        }

      val headerBytes: Long =
        4L + 4L +                                   // magic + numrecs
        8L + dims.map { case (dn, _) => nameBytes(dn) + 4L }.sum + // dim_list
        8L +                                        // empty gatt_list
        8L + vars.map(v => nameBytes(v.name) + 4L + v.dimIds.size * 4L +
          attBytes(v.atts) + 4L + 4L + 4L).sum      // var_list (CDF-1: 4B begin)

      // begins: fixed vars first (in declaration order), then record vars
      val begins = scala.collection.mutable.Map[String, Long]()
      var cursor = headerBytes
      val (recVars, fixVars) =
        vars.partition(v => recordTime && v.dimIds.headOption.contains(0))
      fixVars.foreach { v => begins(v.name) = cursor; cursor += fullBytes(v) }
      recVars.foreach { v => begins(v.name) = cursor; cursor += vsizeOf(v) }

      // ---- emit header
      out.write("CDF".getBytes); out.writeByte(1)
      out.writeInt(if (recordTime) nT else 0) // numrecs (0 when no record dim)
      out.writeInt(0x0A); out.writeInt(dims.size)
      dims.foreach { case (dn, dl) => writeName(dn); out.writeInt(dl) }
      out.writeInt(0); out.writeInt(0) // no global atts
      out.writeInt(0x0B); out.writeInt(vars.size)
      vars.foreach { v =>
        writeName(v.name)
        out.writeInt(v.dimIds.size); v.dimIds.foreach(out.writeInt)
        if (v.atts.isEmpty) { out.writeInt(0); out.writeInt(0) }
        else {
          out.writeInt(0x0C); out.writeInt(v.atts.size)
          v.atts.foreach { case (an, av) =>
            writeName(an)
            av match {
              case Left(s) =>
                val b = s.getBytes("UTF-8")
                out.writeInt(NcChar); out.writeInt(b.length); out.write(b); pad(b.length)
              case Right((t, vs)) =>
                out.writeInt(t); out.writeInt(vs.size)
                vs.foreach { x => t match {
                  case NcShort => out.writeShort(x.toInt)
                  case NcInt => out.writeInt(x.toInt)
                  case NcFloat => out.writeFloat(x.toFloat)
                  case NcDouble => out.writeDouble(x)
                }}
                pad(vs.size.toLong * typeSize(t))
            }
          }
        }
        out.writeInt(v.ncType)
        out.writeInt(vsizeOf(v).toInt)
        out.writeInt(begins(v.name).toInt)
      }

      // ---- emit data
      def writePacked(x: Double): Unit =
        if (dataType == NcShort)
          out.writeShort(if (x.isNaN) fillRaw.toInt else math.round((x - addOff) / scale).toInt)
        else out.writeDouble(if (x.isNaN) fillRaw else x)

      def writePlane(src: Array[Double], t: Int, d: Int): Long = {
        var c = 0
        while (c < planeCells) { writePacked(src(((t * nD + d) * planeCells) + c)); c += 1 }
        planeCells.toLong * typeSize(dataType)
      }

      if (recordTime) {
        // fixed axes first
        Seq("depth" -> spec.depths, // time is a record var here
          "lat" -> (0 until nY).map(y => spec.latMin + y * spec.latStep),
          "lon" -> (0 until nX).map(x => spec.lonMin + x * spec.lonStep))
          .foreach { case (_, vals) =>
            vals.foreach(out.writeDouble)
            pad(vals.size * 8L)
          }
        // records: [time | water_temp plane-block | salinity plane-block] × nT
        (0 until nT).foreach { t =>
          out.writeDouble(spec.times(t).toDouble) // 8 bytes, no padding
          (0 until nD).foreach { d => writePlane(temp, t, d) }
          pad(nD.toLong * planeCells * typeSize(dataType))
          (0 until nD).foreach { d => writePlane(sal, t, d) }
          pad(nD.toLong * planeCells * typeSize(dataType))
        }
      } else {
        Seq(spec.times.map(_.toDouble),
          spec.depths,
          (0 until nY).map(y => spec.latMin + y * spec.latStep),
          (0 until nX).map(x => spec.lonMin + x * spec.lonStep))
          .foreach { vals => vals.foreach(out.writeDouble); pad(vals.size * 8L) }
        (0 until nT).foreach(t => (0 until nD).foreach(d => writePlane(temp, t, d)))
        pad(n * typeSize(dataType))
        (0 until nT).foreach(t => (0 until nD).foreach(d => writePlane(sal, t, d)))
        pad(n * typeSize(dataType))
      }
    } finally out.close()
  }
}
