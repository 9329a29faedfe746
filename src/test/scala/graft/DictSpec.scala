package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.SparkConf
import org.apache.spark.serializer.{JavaSerializer, KryoSerializer}
import org.scalatest.funsuite.AnyFunSuite

import graft.data.SynthCorpus
import graft.dict.Regions
import graft.link.Dict

/** The region dictionary as a broadcast value: what its trie indexes, and
  * what an executor JVM gets when it deserializes it. */
class DictSpec extends AnyFunSuite {
  import GoldenFixtures.dict

  /** Every key the default trie indexes with its ordered items, as
    * (keys, items, SHA-256 of "key\titems" lines in key order). The
    * candidates are a superset of every indexed key: each prefix of a region
    * name or alias, that prefix + 乡/镇 (the auto-aliases), and the ignore
    * list; `fullMatch` keeps the ones that carry items. */
  private def trieDigest(): (Int, Int, String) = {
    val cands = new java.util.HashSet[String]()
    def addPrefixes(s: String): Unit = {
      var i = 1
      while (i <= s.length) {
        val p = s.substring(0, i)
        cands.add(p); cands.add(p + "乡"); cands.add(p + "镇")
        i += 1
      }
    }
    dict.regions.all.foreach { r =>
      addPrefixes(r.name)
      r.alias.split(";").foreach(a => addPrefixes(a.trim))
    }
    Regions.IgnoreList.foreach(cands.add)
    val sorted = cands.toArray(new Array[String](0))
    java.util.Arrays.sort(sorted.asInstanceOf[Array[AnyRef]])
    val md = MessageDigest.getInstance("SHA-256")
    var keys = 0
    var items = 0
    sorted.foreach { k =>
      val found = dict.termIndex.fullMatch(k)
      if (found != null) {
        keys += 1
        items += found.size
        val line = found.map(i =>
          s"${i.termType}:${if (i.region == null) 0L else i.region.id}")
          .mkString(k + "\t", ",", "\n")
        md.update(line.getBytes(UTF_8))
      }
    }
    (keys, items, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  test("the default trie indexes the pinned keys with their items in order") {
    assert(trieDigest() == ((91206, 132172,
      "0f162a5bbb026e2b7c62f8bd77bc8cbc6c2e2f50f7366e78871e19d093191fb0")))
  }

  /** Interpretation of the golden addresses and a corpus sample: every
    * interpreted column, the partition key and the restored text. */
  private def interpretAll(d: Dict): Seq[Any] = {
    val interp = d.interpreter
    val visitor = interp.newVisitor()
    val texts = GoldenFixtures.addresses ++
      SynthCorpus.corpus(d.regions, 3000, 40, seed = 5L).map(_._2)
    texts.zipWithIndex.map { case (t, i) =>
      val a = interp.interpret(t, visitor)
      (interp.toInterpreted(i.toLong, a), interp.partKey(a), a.restoreText)
    }
  }

  test("the dictionary round-trips through Java and Kryo serialization as arrays only") {
    val before = interpretAll(dict) // builds the driver-side views first
    val conf = new SparkConf(false)
    def roundTrip(ser: org.apache.spark.serializer.Serializer): (Array[Byte], Dict) = {
      val inst = ser.newInstance()
      val buf = inst.serialize(dict)
      val bytes = new Array[Byte](buf.remaining())
      buf.duplicate().get(bytes)
      (bytes, inst.deserialize[Dict](buf))
    }
    val (javaBytes, fromJava) = roundTrip(new JavaSerializer(conf))
    val (_, fromKryo) = roundTrip(new KryoSerializer(conf))
    assert(interpretAll(fromJava) == before)
    assert(interpretAll(fromKryo) == before)
    val stream = new String(javaBytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    Seq("graft.model.Region", "graft.dict.IndexItem", "graft.interpret.").foreach { c =>
      assert(!stream.contains(c), s"$c is in the serialized dictionary")
    }
  }
}
