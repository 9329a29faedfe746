package graft.link

import org.apache.spark.HashPartitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.graft.SessionRdd

import graft.analyse.DocAnalyser
import graft.dict.{Regions, TermIndex}
import graft.interpret.AddressInterpreter
import graft.model.{DocVec, IdfRow, LinkHit}

/** Broadcastable dictionary bundle: region tree + trie, built once on the
  * driver (cf. the reference's Spring singletons `TermIndexBuilder` +
  * `AddressPersister`; SURVEY.md §2 A3/B1). It serializes as the two
  * parts' primitive arrays only; the region and item objects and the
  * interpreter are rebuilt from them on first use in each JVM. */
final class Dict(val regions: Regions, val termIndex: TermIndex) extends Serializable {
  @transient lazy val interpreter = new AddressInterpreter(regions, termIndex)
}

object Dict {
  def default(): Dict = {
    val regions = Regions.loadDefault()
    new Dict(regions, new TermIndex(regions, Regions.IgnoreList))
  }

  /** Close the reference's dictionary-growth loop (SURVEY.md §3.3 footnote):
    * merge the [[discoveredTowns]] regions into the region tree and rebuild
    * the trie, so the NEXT interpret pass resolves them as real Town/Village
    * regions — the Spark-side analog of `ExtractTown.main` →
    * `AddressPersister.importRegionTowns` inserting `bas_region` rows
    * (`persist/AddressPersister.java:168-208`) that the next
    * `TermIndexBuilder.indexRegions` picks up
    * (`index/TermIndexBuilder.java:33-74`). */
  def withDiscoveredTowns(base: Dict,
      discovered: Seq[(Long, String)]): Dict = {
    val merged = Regions(base.regions.all ++ discoveredTowns(base.regions, discovered))
    new Dict(merged, new TermIndex(merged, Regions.IgnoreList))
  }

  /** The new Town/Village regions that discovered (district, name) surface
    * forms add to `regions`, with their ids: the one id assigner behind
    * [[withDiscoveredTowns]] and `Linker.discoverTowns` (and mirrored by the
    * kg_towns DuckDB oracle), so the merged dictionary and the emitted towns
    * table cannot disagree on an id.
    *
    * Ids are [[townIdBase]] + rank: start past any EXISTING child already in
    * the `districtId*10000` block (reference `initializeRegionId` — on a
    * base dictionary the block is empty and the base is exactly
    * `districtId*10000`), then number ALL distinct candidate names in
    * code-point order (a determinism divergence from the reference's
    * Map-iteration-order ids). A candidate whose name does not end in
    * 镇/乡/村 still CONSUMES its rank's id but produces no region — matching
    * the oracle SQL's rank-before-filter window (documented divergence from
    * the reference's `else continue`, which skips the id too; vacuous in
    * practice because `acceptTown`'s patterns only emit suffixed names).
    * Districts unknown to the tree are dropped (reference `parent==null`
    * skip).
    *
    * Driver-side by design: `discovered` is the distinct (district, name)
    * vocabulary — bounded by real-world place names (~10^5-10^6 entries at
    * any corpus scale), the same order as the 47.7k-region base dictionary
    * this bundle already broadcasts. */
  def discoveredTowns(regions: Regions,
      discovered: Seq[(Long, String)]): Seq[graft.model.Region] =
    discovered
      .filter { case (_, n) => n != null && n.nonEmpty }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (did, rows) =>
        if (regions.get(did) == null) Nil
        else {
          val base = townIdBase(regions, did)
          rows.map(_._2).distinct.sortWith(codePointLess).zipWithIndex.flatMap {
            case (name, rank) =>
              val t = name.charAt(name.length - 1) match {
                case '镇' | '乡' => graft.model.RegionTypes.Town
                case '村'        => graft.model.RegionTypes.Village
                case _           => 0
              }
              if (t == 0) None
              else Some(graft.model.Region(base + rank, did, name, "", t, ""))
          }
        }
      }

  /** CODE-POINT string order — the collation the kg_towns oracle's
    * `ORDER BY name` uses (DuckDB's binary collation, like Spark's
    * UTF8String, compares UTF-8 bytes, which preserves code-point order).
    * Scala's default `String` ordering is UTF-16 code-UNIT order, which
    * DISAGREES for supplementary-plane characters (a CJK Extension-B
    * surrogate pair 0xD840… sorts below U+E000–U+FFFF there but above in
    * code-point order) — sorting with it would silently hand out ids the
    * oracle does not reproduce. */
  private def codePointLess(a: String, b: String): Boolean = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return ca < cb
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    i >= a.length && j < b.length // a exhausted first ⇒ a < b
  }

  /** First free id in a district's discovered-town block (reference
    * `initializeRegionId`): `districtId*10000`, bumped past any existing
    * child already in the block (i.e. towns merged by an EARLIER
    * [[withDiscoveredTowns]] pass). */
  private def townIdBase(regions: Regions, did: Long): Long = {
    var id = did * 10000L
    regions.children(did).foreach(c => if (c.id >= id) id = c.id + 1)
    id
  }
}

/** Entity-linking stages, Spark-first:
  *
  *  - `buildDocs`: corpus text → interpret (broadcast trie inside
  *    `mapPartitions`, one visitor per partition) → term vectors. Narrow, no
  *    shuffle; scales linearly with input splits.
  *  - `buildIdf`: one map-side-combined count over (partKey, termKey)
  *    (`SimilarityComputer.statInverseDocRefers` + idf rule `:580-599`).
  *    Shuffles once, partitioned by partKey.
  *  - `attachIdf`: cogroup on partKey — the reference's per-district IDF
  *    stamp as a cold-path view (explain, stage dumps); the link itself
  *    stamps idfs inside its scoring cells.
  *  - `linkPlanned`: the reference's partition-pruned candidate retrieval
  *    (D1) + weighted-cosine scoring (D2/D3) + bounded top-k (E1/E2) along a
  *    `RoutePlan`: every queried district as a skew-safe blocked cross join
  *    (binary doc blocks, query bucketing, optional doc bucketing, in-cell
  *    idf stamping). `linkTopKAuto` plans the cells from counted stats
  *    (`planRoutes`) and links along them.
  *
  * The link scores with the one kernel, [[LinkKernel]], in the one cell
  * engine on pair RDDs (`Cells`), and converts to a `Dataset[LinkHit]` once,
  * at its end.
  */
object Linker {

  /** Ingest field caps (`AddressPersister.importAddresses`
    * `AddressPersister.java:106-115`): residual text ≤100, road ≤8,
    * roadNum ≤10, buildingNum ≤20 chars, applied to each interpreted address
    * before it becomes a stored doc. Documented divergence: the reference
    * also truncates rawText to 150 — we do NOT, because the north-rule
    * byte-identical turn-text round-trip forbids mutating the raw column
    * (rawText is never a scoring input, so linking semantics are unaffected). */
  def applyIngestCaps(addr: graft.interpret.MutableAddress): Unit = {
    if (addr.text.length > 100) addr.text = addr.text.substring(0, 100)
    if (addr.road.length > 8) addr.road = addr.road.substring(0, 8)
    if (addr.roadNum.length > 10) addr.roadNum = addr.roadNum.substring(0, 10)
    if (addr.buildingNum.length > 20)
      addr.buildingNum = addr.buildingNum.substring(0, 20)
  }

  /** Interpret a corpus of (id, rawText) address rows into term-vector docs.
    * Rows that fail interpretation (no city/district) are dropped, mirroring
    * `AddressInterpreter.interpret(List…)` `:204-208`; surviving rows get the
    * persister's ingest field caps. */
  def buildDocs(spark: SparkSession, corpus: Dataset[(Long, String)],
      dict: Broadcast[Dict]): Dataset[DocVec] = {
    import spark.implicits._
    corpus.mapPartitions { it =>
      val interp = dict.value.interpreter
      val visitor = interp.newVisitor()
      it.flatMap { case (id, text) =>
        val addr = interp.interpret(text, visitor)
        if (addr == null || !addr.division.hasCity || !addr.division.hasDistrict) None
        else {
          val pk = interp.partKey(addr)
          if (pk == null) None
          else {
            applyIngestCaps(addr)
            Some(DocAnalyser.analyse(id, pk, addr))
          }
        }
      }
    }
  }

  /** Interpret a corpus to full division rows (every input row, matched or
    * not) — the second-pass surface of the dictionary-growth loop: after
    * `Dict.withDiscoveredTowns` a re-interpret resolves discovered 镇/村
    * mentions to their new Town/Village region ids. Narrow map, same shape
    * as `buildDocs`. */
  def interpretCorpus(spark: SparkSession, corpus: Dataset[(Long, String)],
      dict: Broadcast[Dict]): Dataset[graft.model.InterpretedAddress] = {
    import spark.implicits._
    corpus.mapPartitions { it =>
      val interp = dict.value.interpreter
      val visitor = interp.newVisitor()
      it.flatMap { case (id, text) =>
        val addr = interp.interpret(text, visitor)
        if (addr == null) None else Some(interp.toInterpreted(id, addr))
      }
    }
  }

  /** Exact ingest dedup (SURVEY.md §2 A14): the reference skips rows whose
    * rawText 32-bit hashCode was already seen
    * (`AddressPersister.isDuplicatedAddress` `AddressPersister.java:214-243`).
    * We dedup on the FULL text with deterministic keep-min-id — a documented
    * improvement (32-bit-hash-only dedup silently drops colliding distinct
    * addresses).
    *
    * Hash-first shuffle plan: rows are repartitioned on `xxhash64(rawText)` —
    * an 8-byte shuffle KEY with the text riding as payload — and equal texts
    * (identical hash ⇒ identical partition) dedup in one per-partition hash
    * map. The text itself is never a sort/partition key, so the shuffle
    * machinery hashes/compares 8 bytes instead of whole documents. Memory:
    * a partition holds its share of DISTINCT texts only; at 100 TB size
    * `spark.sql.shuffle.partitions` so distinct-bytes/partitions fits a task
    * (exactness is unaffected by the partition count).
    *
    * (Round 6 A/B'd the codegen'd `groupBy(rawText).agg(min(id))` shape —
    * map-side partial agg + no encoder boundary — and it measured a wash to
    * a slight LOSS on this corpus (kg_dedup_corpus 5-pass min 0.93→1.04 s):
    * with few duplicates the partial agg dedups nothing and adds a map-side
    * hash-table pass. On a dup-heavy 100 TB ingest the partial agg's
    * shuffled-row savings would win; for the declared corpus the hash-first
    * shape stands.) */
  def dedupCorpus(spark: SparkSession,
      corpus: Dataset[(Long, String)]): Dataset[(Long, String)] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    corpus.toDF("id", "rawText")
      .repartition(xxhash64($"rawText"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val best = new java.util.HashMap[String, java.lang.Long]()
        it.foreach { case (id, text) =>
          val cur = best.get(text)
          if (cur == null || id < cur.longValue()) best.put(text, id)
        }
        import scala.jdk.CollectionConverters._
        best.entrySet().iterator().asScala.map(e => (e.getValue.longValue(), e.getKey))
      }
  }

  /** Exploded (partKey, docId, termKey) rows — the IDF table's pre-aggregation
    * input, shared with the KG stage materializer so the DuckDB oracle
    * recomputes idf from the exact same rows. Keys follow the one idf-key
    * rule, `DocAnalyser.idfKeyAt`, as `buildIdf` does. */
  def termKeyRows(spark: SparkSession,
      docs: Dataset[DocVec]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    docs.flatMap(d => Iterator.tabulate(d.nTerms)(i =>
      (d.partKey, d.docId, DocAnalyser.idfKeyAt(d, i))))
      .toDF("partKey", "docId", "termKey")
  }

  /** Per-partition IDF table: df = docs-containing-term (terms are pre-deduped
    * per doc at analyse), idf = ln(nDocs/(df+1)) clamped >= 0, with the
    * numeric/ASCII fixed idf=2 rule (`SimilarityComputer.java:586-596`).
    *
    * One `reduceByKey` over `(partKey, termKey)`, combined map-side, under a
    * partitioner on partKey alone: a district's terms all reach one reducer,
    * together with its doc count, which rides as the `(partKey, null)` key.
    * So the table is one shuffle and one job, with no join and no separate
    * doc-count pass. Values equal the SQL rule
    * `greatest(0, log(nDocs / (df + 1)))` bit for bit (Spark's `log` is
    * `StrictMath.log`). */
  def buildIdf(spark: SparkSession, docs: Dataset[DocVec]): Dataset[IdfRow] = {
    import spark.implicits._
    val byPk = new PartKeyPartitioner(spark.sessionState.conf.numShufflePartitions)
    val counts = docs.rdd.flatMap { d =>
      Iterator.single(((d.partKey, null: String), 1L)) ++
        Iterator.tabulate(d.nTerms)(i => ((d.partKey, DocAnalyser.idfKeyAt(d, i)), 1L))
    }.reduceByKey(byPk, _ + _)
    spark.createDataset(counts.mapPartitions { it =>
      val rows = it.toArray
      val nDocs = rows.iterator.collect { case ((pk, null), n) => pk -> n }.toMap
      rows.iterator.collect { case ((pk, t), df) if t != null =>
        IdfRow(pk, t, df, idfOf(t, nDocs(pk), df))
      }
    })
  }

  private val NumericTerm = java.util.regex.Pattern.compile("^[0-9]+$")
  private val AlphaTerm = java.util.regex.Pattern.compile("^[A-Za-z]+$")

  /** The idf rule of one term key: 2.0 for numeric or ASCII-letter keys
    * (regex `find`, as SQL `rlike`), else `max(0, ln(nDocs / (df + 1)))`. */
  private def idfOf(termKey: String, nDocs: Long, df: Long): Double =
    if (NumericTerm.matcher(termKey).find() || AlphaTerm.matcher(termKey).find()) 2.0
    else math.max(0.0, StrictMath.log(nDocs.toDouble / (df + 1).toDouble))

  /** Partitions `(partKey, _)` keys by partKey alone. */
  private final class PartKeyPartitioner(n: Int) extends org.apache.spark.Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int =
      java.lang.Math.floorMod(key.asInstanceOf[(String, _)]._1.hashCode, n)
    override def equals(o: Any): Boolean = o match {
      case p: PartKeyPartitioner => p.numPartitions == n
      case _ => false
    }
    override def hashCode: Int = n
  }

  /** Stamp per-partition idf onto every doc term (reference: `:601-611`).
    * Cogroup on partKey: one shuffle per side, no per-row join explosion. */
  def attachIdf(spark: SparkSession, docs: Dataset[DocVec],
      idf: Dataset[IdfRow]): Dataset[DocVec] = {
    import spark.implicits._
    val grouped = docs.groupByKey(_.partKey)
    val idfGrouped = idf.groupByKey(_.partKey)
    grouped.cogroup(idfGrouped) { (_, docIt, idfIt) =>
      val idfMap = new java.util.HashMap[String, java.lang.Double]()
      idfIt.foreach(r => idfMap.put(r.termKey, r.idf))
      // Doc-side terms always resolve (idf built from the same corpus);
      // misses only on out-of-corpus attach — MISSING_IDF like queries.
      docIt.map(DocAnalyser.stampIdf(_, idfMap))
    }
  }

  /** Per-partKey cell-split knobs (query buckets × doc buckets). */
  final case class CellKnobs(qBuckets: Int, dBuckets: Int)

  private def shufflePartitions(spark: SparkSession): Int =
    spark.sessionState.conf.numShufflePartitions

  /** Score one link cell: unpack its tag-0 doc blobs and tag-1 idf blobs,
    * stamp both sides from the cell's idfs, and feed the whole cell to one
    * [[LinkKernel]]. Called only by the one cell engine, `Cells.score`, so
    * the batch cells and the persisted streaming cells (`LinkIndex`) score
    * bit-identically. */
  private[link] def scoreCell(blobs: Iterator[(Int, Array[Byte])],
      queries: Iterator[DocVec], topN: Int): Iterator[LinkHit] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Scoring.Side]
    val idfMap = new java.util.HashMap[String, java.lang.Double]()
    blobs.foreach { case (tag, bytes) =>
      if (tag == 1) IdfBlob.unpackInto(bytes, idfMap)
      else DocBlob.unpackSides(bytes, buf)
    }
    if (buf.isEmpty) Iterator.empty
    else {
      // Stamp AFTER the full pass: idf chunks interleave arbitrarily with
      // doc blobs in the cell's iterator.
      var i = 0
      while (i < buf.length) { Scoring.stampSideIdfs(buf(i), idfMap); i += 1 }
      val kernel = new LinkKernel(queries.map(DocAnalyser.stampIdf(_, idfMap)), topN)
      kernel.feed(buf.toArray)
      kernel.hits
    }
  }

  /** Both sides' per-partKey (query, doc) counts in ONE job (fixed per-job
    * overhead is the measured scaling bound on this box — don't pay it
    * twice; `Cells.countByPk`). Driver-sized result: one row per district.
    * The job runs under the session's executor class loader
    * (`SessionRdd.action`), so its scans share the codegen-cache entries of
    * the SQL executions that read the same stages. */
  def countStats(spark: SparkSession, queries: Dataset[DocVec],
      docs: Dataset[DocVec]): Array[(String, Long, Long)] =
    SessionRdd.action(spark)(Cells.countByPk(queries, docs)).iterator
      .map { case (pk, n) => (pk, n(0), n(1)) }.toArray

  /** The auto-router's decision, exposed for inspection (the skew-stress
    * bench reports cell counts from the SAME planner the link executes):
    * the queried districts and each one's cell knobs. */
  final case class RoutePlan(qCounts: Map[String, Long],
      dCounts: Map[String, Long], shufflePks: Set[String],
      knobs: Map[String, CellKnobs]) {
    /** Total candidate pair work q·d across queried districts. */
    def pairWork: Long = qCounts.iterator
      .map { case (pk, q) => q * dCounts.getOrElse(pk, 0L) }.sum
    def shuffleCells: Long = knobs.valuesIterator
      .map(k => k.qBuckets.toLong * k.dBuckets).sum

    /** Districts on the broadcast route, which is gone: always empty. Kept
      * only because the frozen benchmark sources (`Bench.scala`,
      * `perfbench/`) read it; it goes with the next change to the
      * benchmark. */
    @deprecated("every queried district is in shufflePks", "0.1.0")
    def bcastPks: Set[String] = Set.empty
  }

  /** The most query buckets one district splits into. */
  private val MaxQBuckets = 256

  /** Pure route planning from counted stats — extracted from `linkTopKAuto`
    * so the decision is inspectable; the link path calls exactly this.
    * Every queried district gets cells sized from its counted work. */
  def planRoutes(stats: Array[(String, Long, Long)], parallelism: Int,
      targetPairsPerCell: Long = 1L << 22,
      maxDocsPerCell: Int = Cells.MaxDocsPerCell): RoutePlan = {
    val qCounts = stats.iterator.filter(_._2 > 0).map(s => s._1 -> s._2).toMap
    val dCounts = stats.iterator.map(s => s._1 -> s._3).toMap

    // Parallelism floor: when total work is far below cluster capacity ×
    // target, shrink the per-cell target so the cluster still fills (the
    // work-based split alone would give one cell per district at small
    // scale). At scale totalWork dominates and the configured target wins.
    val totalWork = qCounts.iterator
      .map { case (pk, q) => q * dCounts.getOrElse(pk, 0L) }.sum
    val para = math.max(1, parallelism)
    val effTarget = math.max(1L,
      math.min(targetPairsPerCell, totalWork / (3L * para)))

    val knobs = qCounts.iterator.flatMap { case (pk, q) =>
      val d = dCounts.getOrElse(pk, 0L)
      if (d == 0) None
      else {
        val work = q * d
        val cells = math.max(1L, (work + effTarget - 1) / effTarget)
        val g = math.max(1L, math.min(math.min(q, MaxQBuckets.toLong),
          math.round(math.sqrt(cells.toDouble * q / d)))).toInt
        val dbWork = (cells + g - 1) / g
        val dbMem = Cells.valve(d, maxDocsPerCell)
        val db = math.max(dbWork, dbMem)
        // Round 6: a db>1 split has costs the replicated-bytes minimum
        // (g/db ≈ q/d) does not see — the query side is replicated ×db
        // AND re-shuffled (qSpread), and every query pays a k-row partial
        // top-k merge exchange. When the memory valve does not force the
        // split, prefer covering the cells with query buckets ALONE if the
        // extra doc-blob replication stays within 4× of the split plan's
        // total replicated rows — true exactly in the small-cells regime
        // where fixed per-exchange overhead dominates (measured at sf0.1:
        // cells≈8/district, the db=4 plan cost a query-replication
        // exchange + a merge shuffle for zero memory benefit). At scale
        // cells ≫ MaxQBuckets or the 4× bound fails and the 2-D split
        // stands unchanged. Results are bit-identical for ANY knobs
        // (KgPipelineSpec pins it); only shuffle topology changes.
        val gOnly = math.min(cells, math.min(q, MaxQBuckets.toLong))
        val knob =
          if (db > 1 && dbMem <= 1 && gOnly >= cells &&
              gOnly * d <= 4L * (g * d + 2L * db * q))
            CellKnobs(gOnly.toInt, 1)
          else CellKnobs(g, db.toInt)
        Some(pk -> knob)
      }
    }.toMap
    RoutePlan(qCounts, dCounts, qCounts.keySet, knobs)
  }

  /** Self-tuning link (the 100×-survival path): counts both sides per
    * district (`countStats`), plans the cells from the counts with the
    * default thresholds (`planRoutes`) and links along that plan
    * ([[linkPlanned]]). Output is bit-identical to any manual knob setting
    * (KgPipelineSpec). */
  def linkTopKAuto(spark: SparkSession, queries: Dataset[DocVec],
      docs: Dataset[DocVec], topN: Int, idf: Dataset[IdfRow]): Dataset[LinkHit] =
    linkPlanned(spark, planRoutes(countStats(spark, queries, docs),
      spark.sparkContext.defaultParallelism), queries, docs, topN, idf)

  /** Top-k linking along a route plan, the one explicit-route link: a
    * hand-built `RoutePlan` pins the districts and knobs, `linkTopKAuto`
    * passes `planRoutes`' plan. Ties pinned (desc similarity, asc docId) —
    * documented divergence from the reference's scan-order tie-keep
    * (`Query.java:73,89`; SURVEY.md §7.4-3). Hits with similarity <= 0 are
    * dropped (`Query.addSimiDoc` `Query.java:62`).
    *
    * Each district in `plan.shufflePks` is a blocked cross join of its
    * queries × candidate docs, laid out by `Cells`: the DOC side ships as
    * packed binary blocks (`DocBlob`), the QUERY side splits into qBuckets
    * by queryId. `plan.knobs` is the only shape input: a district without
    * an entry is one cell, `CellKnobs(1, 1)`. Docs in districts with NO
    * queries never enter the shuffle (broadcast membership filter) — with a
    * small query batch against a 100 TB corpus this prunes the dominant
    * cost. Returns each query's top-k, merged from its partial lists when
    * some district splits its docs.
    *
    * Skew + shuffle design (measured on this box, see git history):
    *  - partKey is the district key: power-law skewed, low cardinality. A
    *    plain partKey cogroup caps parallelism at #districts and the hot
    *    district serializes the O(|q|·|d|) pair scoring. `planRoutes` sizes
    *    cells from counted work instead: C = ⌈q·d / targetPairsPerCell⌉
    *    cells bound the per-task pair work; qBuckets ∝ √(C·q/d) and
    *    dBuckets = ⌈C/g⌉ split replication evenly (replicated bytes ≈
    *    db·|q| + g·|d| is minimized at g/db ≈ q/d).
    *  - with db = 1 queries are NOT replicated: each goes to one
    *    (partKey, qBucket) cell and sees the full candidate set there → a
    *    single pass emits final top-k, no merge step.
    *  - docs ARE replicated ×qBuckets, but as `Cells.BlobDocs`-doc binary
    *    blocks: per-row deserialization (nested arrays, per-term Strings)
    *    was ~half the stage CPU; blocks amortize it ~256× and unpack
    *    directly into the kernel's compiled Side layout.
    *  - dBuckets also splits the doc side (cells then hold 1/dBuckets of a
    *    district's docs and partial top-k heaps merge in a tiny final `TopK`
    *    reduce), and the memory valve (`Cells.valve`) forces it up until a
    *    cell's doc set fits `maxDocsPerCell`. So a hot district, however few
    *    its queries, never buffers its whole doc side in one task, and no
    *    doc is replicated more than its district's work asks for.
    *  - idfs are stamped INSIDE each cell: the per-district `idf` table
    *    ships into every cell of its district as chunked binary blocks, and
    *    both sides are stamped from it (`Scoring.stampSideIdfs` for docs,
    *    `DocAnalyser.stampIdf` for queries) before scoring. Neither side
    *    needs a stamping cogroup, the replicated doc blobs carry no idf
    *    payload, and input idfs are ignored (stamping overwrites them). A
    *    district's distinct-term table is far smaller than its doc-term
    *    payload, so shipping it ×(g·db) is cheap.
    *  - the cells are pair-RDD rows cogrouped by `Cells.score` under a
    *    `HashPartitioner` of `spark.sql.shuffle.partitions` — the same
    *    engine `LinkIndex` runs with its persisted partitioner.
    *
    * Output is bit-identical for any plan (KgPipelineSpec). */
  def linkPlanned(spark: SparkSession, plan: RoutePlan,
      queries: Dataset[DocVec], docs: Dataset[DocVec], topN: Int,
      idf: Dataset[IdfRow]): Dataset[LinkHit] = {
    import spark.implicits._
    val bPks = spark.sparkContext.broadcast(plan.shufflePks)
    val bknobs = spark.sparkContext.broadcast(plan.knobs)
    val splits = Cells.splitsDocs(plan.knobs)
    val qs = queries.rdd.filter(q => bPks.value.contains(q.partKey))
    // The query side may arrive CLUSTERED by partKey (one partition per
    // district after any partKey-keyed stage), so without a rebalance the
    // ×dBuckets replication flatMap and its shuffle write for a hot district
    // run inside ONE map task — measured as an 81 s straggler (= the fixed
    // Amdahl term that capped 2→8-core scaling at 0.62) at the sf0.1 scaling
    // point: the hot district's 210k queries × db=60 ≈ 6.6 GB written
    // serially. One cheap extra shuffle of the small UNREPLICATED query side
    // (hash on queryId — uniform by construction) makes the replication
    // stage embarrassingly parallel. Bit-identical results: the cell cogroup
    // re-keys every row anyway, and per-query top-k is order-independent.
    val qSpread =
      if (!splits) qs // no ×db replication
      else qs.keyBy(_.docId).partitionBy(new HashPartitioner(
        math.max(spark.sparkContext.defaultParallelism, shufflePartitions(spark))))
        .values
    val hits = Cells.score(
      docs.rdd.filter(d => bPks.value.contains(d.partKey))
        .mapPartitions(Cells.docCells(_, bknobs.value))
        .union(idf.rdd.filter(r => bPks.value.contains(r.partKey))
          .mapPartitions(Cells.idfCells(_, bknobs.value))),
      qSpread.mapPartitions(Cells.queryCells(_, bknobs.value)),
      new HashPartitioner(shufflePartitions(spark)), topN)
    spark.createDataset(
      if (splits) Cells.mergeHits(hits, topN, shufflePartitions(spark)) else hits)
  }

  /** The pre-collapse call shape of [[linkTopKAuto]], kept only because the
    * frozen benchmark sources (`perfbench/`) call it; it goes with the next
    * change to the benchmark. `idf` must be given and `stampQueries` true:
    * the link has one semantics, idf stamped in-cell on both sides. */
  @deprecated("pass idf: Dataset[IdfRow]; queries are always stamped in-cell", "0.1.0")
  def linkTopKAuto(spark: SparkSession, queries: Dataset[DocVec],
      docs: Dataset[DocVec], topN: Int, idf: Option[Dataset[IdfRow]],
      stampQueries: Boolean): Dataset[LinkHit] = {
    require(idf.isDefined && stampQueries,
      "the link always stamps idf in-cell: pass idf and stampQueries = true")
    linkTopKAuto(spark, queries, docs, topN, idf.get)
  }

  /** A link hit with its per-term scoring explanation (the reference's
    * `explain=true` result shape, `Query.java:8-13` + `MatchedTerm`). */
  final case class ExplainedHit(queryId: Long, docId: Long, rank: Int,
      similarity: Double, matched: Seq[Scoring.MatchedTermRow])

  /** Per-term explain for FINAL hits only (`SimilarityComputer.java:500-535`
    * recast): re-derives each hit pair's matched terms with
    * `Scoring.scoreExplain`. Cost is O(k·|queries|) pairs — never touches
    * the link kernel. Joins broadcast the tiny hits table, so the doc/query
    * vector sides shuffle nothing extra. */
  def explainHits(spark: SparkSession, queries: Dataset[DocVec],
      docs: Dataset[DocVec], hits: Dataset[LinkHit]): Dataset[ExplainedHit] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.broadcast
    val withQ = broadcast(hits)
      .joinWith(queries, hits("queryId") === queries("docId"))
    val withD = broadcast(withQ)
      .joinWith(docs, withQ("_1.docId") === docs("docId"))
    withD.map { case ((h, q), d) =>
      val (_, terms) = Scoring.scoreExplain(new Scoring.QuerySide(q),
        new Scoring.Side(d))
      ExplainedHit(h.queryId, h.docId, h.rank, h.similarity, terms)
    }
  }

  /** Stage ids (this JVM) whose tasks ran the scoring kernel — bench/test
    * instrumentation so the skew-stress report attributes task time to the
    * ACTUAL scoring stage(s) instead of guessing "the max-taskSum stage of
    * the session" (which warmup, interpret, or a post-timing route
    * recompute can win). Local-mode attribution: driver and executors share
    * the JVM on local[n]; a real cluster would use named accumulators.
    * Callers (Bench.skewStress) clear it right before the timed window. */
  val ScoringStageIds: java.util.Set[Integer] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()

  /** Town/village discovery (canonicalization of new surface forms —
    * `AddressInterpreter.extractTownVillage` + `acceptTown` SURVEY.md §2
    * A19/C3, then A20 id assignment): the distinct [[townCandidates]],
    * collected (bounded, see `Dict.discoveredTowns`) and numbered by
    * `Dict.discoveredTowns` — the same assigner the dictionary merge uses,
    * without rebuilding the trie (`AddressPersister.importRegionTowns/
    * initializeRegionId` `AddressPersister.java:168-208`). Returns
    * (district_id, name, new_region_id, region_type). */
  def discoverTowns(spark: SparkSession, corpus: Dataset[(Long, String)],
      dict: Broadcast[Dict]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val candidates = townCandidates(spark, corpus, dict).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    Dict.discoveredTowns(dict.value.regions, candidates)
      .map(r => (r.parentId, r.name, r.id, r.regionType))
      .toDF("district_id", "name", "new_region_id", "region_type")
  }

  /** Distinct (district_id, name) town/village candidates — discoverTowns'
    * pre-ranking input, shared with the KG stage materializer (the DuckDB
    * oracle reruns the id-assignment window + type filter over it). */
  def townCandidates(spark: SparkSession, corpus: Dataset[(Long, String)],
      dict: Broadcast[Dict]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    corpus.mapPartitions { it =>
      val interp = dict.value.interpreter
      val visitor = interp.newVisitor()
      val towns = scala.collection.mutable.Map
        .empty[Long, scala.collection.mutable.ArrayBuffer[String]]
      it.foreach { case (_, text) =>
        interp.extractTownVillage(text, visitor, towns)
      }
      towns.iterator.flatMap { case (did, names) => names.iterator.map(n => (did, n)) }
    }.toDF("district_id", "name").distinct()
  }

  /** Bounded top-k keeper. PUBLIC ORDERING CONTRACT (round 3): candidates
    * are ranked by similarity QUANTIZED to 1e-6 (half-up) descending, then
    * docId ascending. Rationale: near-identical docs produce sims that agree
    * to ~1e-9 but differ at ~1e-15, where the order is pure floating-point
    * accumulation noise — the reference's full-double comparator
    * (`SimilarityComputer.java` result sort) is an implementation artifact no
    * independent engine can reproduce (JVM vs DuckDB sums differ at 1e-16),
    * while the quantized order is deterministic AND cross-engine verifiable:
    * the kg_links DuckDB oracle re-derives the exact top-k — membership,
    * ranks, and sims — from the stage tables. Within a 1e-6 band the
    * reference makes no meaningful ordering guarantee. Emitted sims stay
    * full precision. */
  final class TopK(k: Int) extends Serializable {
    private val sims = new Array[Double](k)
    private val keys = new Array[Long](k)
    private val ids = new Array[Long](k)
    private var size = 0
    // Half-up at 1e-6 — matches SQL round(sim, 6) for non-negative sims.
    @inline private def qz(sim: Double): Long =
      math.floor(sim * 1e6 + 0.5).toLong
    def offer(docId: Long, sim: Double): Unit = {
      val key = qz(sim)
      if (size == k) {
        val wk = keys(size - 1); val wi = ids(size - 1)
        if (key < wk || (key == wk && docId >= wi)) return
        size -= 1
      }
      var i = size
      while (i > 0 && (keys(i - 1) < key || (keys(i - 1) == key && ids(i - 1) > docId))) {
        sims(i) = sims(i - 1); keys(i) = keys(i - 1); ids(i) = ids(i - 1)
        i -= 1
      }
      sims(i) = sim; keys(i) = key; ids(i) = docId
      size += 1
    }
    def add(h: LinkHit): TopK = { offer(h.docId, h.similarity); this }
    def merge(o: TopK): TopK = {
      var i = 0
      while (i < o.size) { offer(o.ids(i), o.sims(i)); i += 1 }
      this
    }
    def toHits(queryId: Long): Iterator[LinkHit] = {
      val s = size
      (0 until s).iterator.map(r => LinkHit(queryId, ids(r), sims(r), r + 1))
    }
    /** Current quantized kth-place key, or Long.MinValue while not full —
      * the WAND skip threshold: `offer` REJECTS any candidate whose
      * quantized sim is < this key regardless of docId, so skipping such
      * candidates upstream is bit-identical by the offer contract. */
    def kthKey: Long = if (size < k) Long.MinValue else keys(size - 1)
  }
}
