package graft.io

/** Shared byte-level codec helpers for the io readers (one
  * implementation, not one copy per caller).
  */
private[graft] object Codecs {

  /** Drains a gzip stream fully (multi-member tolerated by the JDK). */
  def gunzipAll(b: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(b))
    val out = new java.io.ByteArrayOutputStream(b.length * 2 + 64)
    try {
      val tmp = new Array[Byte](1 << 14)
      var n = in.read(tmp)
      while (n >= 0) { out.write(tmp, 0, n); n = in.read(tmp) }
    } finally in.close()
    out.toByteArray
  }
}
