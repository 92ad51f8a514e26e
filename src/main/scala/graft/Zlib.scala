package graft

import java.util.zip.{Deflater, GZIPInputStream, GZIPOutputStream, Inflater}

/** The zlib and gzip payload codecs the volume formats share: TIFF
  * Adobe-Deflate strips and tiles, Zarr `zlib` and `gzip` chunks and
  * N5 gzip blocks. Each decoder takes the payload's known raw length
  * and fails loudly unless the payload decodes to exactly that many
  * bytes: at 100 TB a quiet decode hole is data corruption.
  */
private[graft] object Zlib {

  /** `raw` as one zlib stream at `level`. */
  def deflate(raw: Array[Byte], level: Int): Array[Byte] = {
    val d = new Deflater(level)
    try {
      d.setInput(raw); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** The zlib stream `comp`, which must inflate to exactly `rawLen` bytes. */
  def inflate(comp: Array[Byte], rawLen: Int): Array[Byte] = {
    val inf = new Inflater()
    try {
      inf.setInput(comp)
      val raw = new Array[Byte](rawLen)
      var off = 0
      while (off < rawLen && !inf.finished()) {
        val n = inf.inflate(raw, off, rawLen - off)
        // inflate() == 0 with needsInput means the stream is TRUNCATED:
        // no more input will ever arrive, so looping again would spin
        // forever — fail loudly instead
        require(n > 0 || !(inf.needsInput() || inf.needsDictionary()),
          s"truncated deflate stream: $off of $rawLen bytes inflated")
        off += n
      }
      require(off == rawLen && inf.finished(),
        s"zlib payload is not exactly $rawLen bytes")
      raw
    } finally inf.end()
  }

  /** `raw` as one gzip member at the default level. */
  def gzip(raw: Array[Byte]): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream()
    val gz = new GZIPOutputStream(buf)
    gz.write(raw); gz.close()
    buf.toByteArray
  }

  /** The gzip stream `comp`, which must decompress to exactly `rawLen` bytes. */
  def gunzip(comp: Array[Byte], rawLen: Int): Array[Byte] = {
    val gz = new GZIPInputStream(new java.io.ByteArrayInputStream(comp))
    try {
      val raw = new Array[Byte](rawLen)
      var off = 0
      var n = 0
      while (off < rawLen && n >= 0) {
        n = gz.read(raw, off, rawLen - off)
        if (n > 0) off += n
      }
      require(off == rawLen && gz.read() < 0, s"gzip payload is not exactly $rawLen bytes")
      raw
    } finally gz.close()
  }
}
