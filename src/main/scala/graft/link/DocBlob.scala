package graft.link

import java.io.DataOutputStream

import graft.model.DocVec

/** Custom binary block format for the similarity shuffle: many term-vector
  * docs packed into ONE shuffle row (`(partKey, bytes)`), unpacked directly
  * into the scoring kernel's compiled `Scoring.Side` layout.
  *
  * Why: the linking join replicates the doc side; shipping it as per-doc
  * encoder rows made Spark's row machinery (nested-array deserialization,
  * per-term String allocation, per-row iterator overhead) dominate the stage
  * CPU — stack-sampled at ~½ the task time vs ~4s of actual scoring. Packing
  * ~256 docs per row amortizes all per-row costs and the unpack allocates
  * exactly the Side arrays (no intermediate DocVec, no per-term Strings).
  *
  * Layout per doc: docId i64 | n u16 | types chars | per-term text lens u16*n
  * | packed text chars | [town|village|road|roadNum as u16 len + chars] |
  * roadNumValue i32. Blob = u32 count + docs.
  *
  * Idfs are not on the wire: they are ~8 of the ~12-18 bytes a term costs,
  * and the doc side replicates ×qBuckets, so each scoring cell receives its
  * district's idf table once (`IdfBlob`) and stamps the unpacked sides.
  */
object DocBlob {

  /** Group a partition's docs by partKey and pack into blobs of at most
    * `maxPerBlob` docs (`Cells.pack`'s framing). Emits (partKey, blobBytes). */
  def packGroups(it: Iterator[DocVec],
      maxPerBlob: Int): Iterator[(String, Array[Byte])] =
    Cells.pack(it, maxPerBlob, 16 * 1024)(_.partKey)(writeDoc)

  private def writeStr(dos: DataOutputStream, s: String): Unit = {
    if (s == null) dos.writeShort(0xffff)
    else {
      dos.writeShort(s.length)
      dos.writeChars(s)
    }
  }

  private def writeDoc(dos: DataOutputStream, d: DocVec): Unit = {
    dos.writeLong(d.docId)
    val n = d.nTerms
    dos.writeShort(n)
    dos.writeChars(d.tTypes)
    var i = 0
    while (i < n) { dos.writeShort(d.texts(i).length); i += 1 }
    i = 0
    while (i < n) { dos.writeChars(d.texts(i)); i += 1 }
    writeStr(dos, d.town)
    writeStr(dos, d.village)
    writeStr(dos, d.road)
    writeStr(dos, d.roadNum)
    dos.writeInt(d.roadNumValue)
  }

  /** Unpack a blob straight into compiled scoring sides. The idf arrays
    * come back zeroed — the cell stamps them from its idf map before scoring
    * (`Scoring.stampSideIdfs`). */
  def unpackSides(blob: Array[Byte],
      out: scala.collection.mutable.ArrayBuffer[Scoring.Side]): Unit = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(blob))
    val count = in.readInt()
    var k = 0
    while (k < count) {
      val docId = in.readLong()
      val n = in.readShort().toInt
      val typesArr = new Array[Char](n)
      var i = 0
      while (i < n) { typesArr(i) = in.readChar(); i += 1 }
      val offs = new Array[Int](n + 1)
      i = 0
      var total = 0
      while (i < n) { offs(i) = total; total += in.readShort(); i += 1 }
      offs(n) = total
      val packed = new Array[Char](total)
      i = 0
      while (i < total) { packed(i) = in.readChar(); i += 1 }
      val idfs = new Array[Double](n)
      def readStr(): String = {
        val len = in.readShort() & 0xffff
        if (len == 0xffff) null
        else {
          val a = new Array[Char](len)
          var j = 0
          while (j < len) { a(j) = in.readChar(); j += 1 }
          new String(a)
        }
      }
      val town = readStr(); val village = readStr()
      val road = readStr(); val roadNum = readStr()
      val rnv = in.readInt()
      out += new Scoring.Side(docId, new String(typesArr), packed, offs, idfs,
        town, village, road, roadNum, rnv)
      k += 1
    }
  }
}

/** Binary block format for shipping a district's IDF table into the scoring
  * cells: rows of (termKey, idf) packed per
  * partKey, chunked so one hot district's dictionary never becomes a single
  * giant shuffle row. The cell unions all received chunks into one lookup
  * map before stamping doc sides. */
object IdfBlob {

  def packGroups(it: Iterator[graft.model.IdfRow],
      maxPerBlob: Int = 8192): Iterator[(String, Array[Byte])] =
    Cells.pack(it, maxPerBlob, 8 * 1024)(_.partKey) { (dos, r) =>
      dos.writeShort(r.termKey.length)
      dos.writeChars(r.termKey)
      dos.writeDouble(r.idf)
    }

  def unpackInto(blob: Array[Byte],
      m: java.util.HashMap[String, java.lang.Double]): Unit = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(blob))
    val count = in.readInt()
    var k = 0
    while (k < count) {
      // u16 read (matching DocBlob.readStr): a termKey longer than 32767
      // chars must not come back negative and corrupt the stream.
      val len = in.readShort() & 0xffff
      val a = new Array[Char](len)
      var j = 0
      while (j < len) { a(j) = in.readChar(); j += 1 }
      val idf = in.readDouble()
      m.put(new String(a), idf)
      k += 1
    }
  }
}
