package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drift pins + cache-hygiene probe for the rows-only driver queries.
  *
  * kg_links / kg_mentions are rows-only in the driver by justified design
  * (they ARE the stage tables the other kg oracles read — an identity oracle
  * would be circular), so a pinned content hash at sf0.001 catches silent
  * semantic drift between rounds: any change to mention detection, scoring,
  * ranking, or id assignment flips the hash and must be acknowledged here.
  *
  * The expected hashes live in `SparkEntry.driftPins` — the SAME map the
  * shipped `_verification.json` quotes — so a justified re-pin updates both
  * the spec and the driver artifact in one edit (round-4 advice).
  */
class DriftPinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def hashOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
    val rows = df.collect().map(_.toSeq.map {
      case d: Double => f"$d%.9f"
      case x         => String.valueOf(x)
    }.mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update(10.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  // kg_links re-pinned in round 3: TopK's public tie-break moved to
  // quantized-1e-6 sim + docId asc (see Linker.TopK), reordering near-tie
  // ranks. The remaining rows-only driver queries are all deterministic by
  // construction (seeded hyperplanes/centroids, stub codec), so they get the
  // same silent-drift protection: any semantic change must re-pin in
  // SparkEntry.driftPins.
  for ((name, expected) <- SparkEntry.driftPins.toSeq.sortBy(_._1)) {
    test(s"$name content hash is pinned at sf0.001") {
      assert(hashOf(name) == expected)
    }
  }

  test("every rows-only justification quotes the shared drift pin") {
    for ((name, j) <- SparkEntry.rowsOnlyJustification)
      assert(j("pinned_hash_sf0001") == SparkEntry.driftPins(name),
        s"$name _verification.json hash diverged from driftPins")
  }

  test("kg queries leave no persistent RDDs behind (run-scoped caches)") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // The pipeline queries, then every query that runs a sized operator
    // (its CacheScope owns what the operator persists and
    // checkpoints; the query frees the checkpoint the operator returns), then
    // the two queries over the distributed prefix sum, then the queries whose
    // caches a CacheScope owns (the indexed and streaming links, SemDedup).
    val names = Seq("kg_triples", "kg_accuracy", "kg_links_explain",
      "kg_comention", "kg_pmi", "kg_negatives", "kg_timeline",
      "kg_tool_edges", "q35_pagerank", "q40_label_prop", "q41_triangles",
      "q49_adamic_adar", "q50_kcore", "q28_dedup_groups",
      "q46_decontaminate_bloom", "q34_epoch_shards", "q47_sorted_neighborhood",
      "kg_links_indexed", "q27_stream_link", "q39_semdedup")
    val leaks = names.flatMap { name =>
      val seen = sc.getPersistentRDDs.keySet
      SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").count()
      val left = sc.getPersistentRDDs.keySet -- seen
      if (left.isEmpty) None else Some(s"$name: ${left.size}")
    }
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"kg queries leaked ${leaked.size} persistent RDDs (${leaks.mkString(", ")})")
  }
}
