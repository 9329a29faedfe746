package graft.model

/** Core data model for the KG-construction engine.
  *
  * Shapes derive from the reference (liuzhibin-cn/address-semantic-search):
  *  - Region mirrors `persist/RegionEntity.java:37-47` (id/parentId adjacency tree,
  *    ";"-separated alias list, int-coded type per `persist/RegionType.java:9-57`).
  *  - TermTypes mirror `TermType.java:14-55` (char codes kept for
  *    cache-format golden tests).
  *  - DocVec mirrors `similarity/Document.java:11-19` recast as a columnar row:
  *    a term (`similarity/Term.java:9-14`) is one position of its parallel
  *    type/text/idf arrays, plus pinned town/village/road/roadNum slots.
  */
object RegionTypes {
  val Undefined = 0
  val Country = 10
  val Province = 100
  val ProvinceLevelCity1 = 150
  val ProvinceLevelCity2 = 151
  val City = 200
  val CityLevelDistrict = 250
  val District = 300
  val Town = 400
  val Village = 410
  val Street = 450
  val PlatformL4 = 460
}

/** Term type char codes — exact serialization codes from `TermType.java:14-55`. */
object TermTypes {
  val Undefined = '0'
  val Province = '1'
  val City = '2'
  val District = '3'
  val Street = '4'
  val Town = 'T'
  val Village = 'V'
  val Road = 'R'
  val RoadNum = 'N'
  val Text = 'X'
  val Ignore = 'I'
}

/** Administrative region (entity-dictionary node). Immutable; equality by id
  * (cf. `RegionEntity.equals` `RegionEntity.java:166-171`). */
final case class Region(
    id: Long,
    parentId: Long,
    name: String,
    alias: String,
    regionType: Int,
    zip: String
) {
  def isTown: Boolean = Region.isTown(regionType, name)

  def orderedNameAndAlias: Seq[String] = Region.orderedNameAndAlias(name, alias)

  override def equals(obj: Any): Boolean = obj match {
    case r: Region => r.id == id
    case _         => false
  }
  override def hashCode(): Int = java.lang.Long.hashCode(id)
}

/** The row-level rules behind [[Region]]'s derived fields, so the trie build
  * can apply them to the dictionary's columns without making `Region`s. */
object Region {
  /** `RegionEntity.isTown()` `RegionEntity.java:49-59`. */
  def isTown(regionType: Int, name: String): Boolean = regionType match {
    case RegionTypes.Town => true
    case RegionTypes.Street =>
      name != null && name.nonEmpty && name.length <= 4 &&
      (name.charAt(name.length - 1) == '镇' || name.charAt(name.length - 1) == '乡')
    case _ => false
  }

  /** Name + aliases ordered by char length desc (longest-match preference),
    * `RegionEntity.buildOrderedNameAndAlias` `RegionEntity.java:130-159`.
    * Stable sort keeps name-before-alias on equal length, matching the
    * reference's bubble sort (stable). */
  def orderedNameAndAlias(name: String, alias: String): Seq[String] =
    if (alias == null || alias.trim.isEmpty) name :: Nil
    else {
      val aliases = alias.trim.split(";").iterator.map(_.trim).filter(_.nonEmpty).toSeq
      (name +: aliases).sortBy(s => -s.length)
    }
}

/** Interpreted address / detected mention — the flat Dataset-friendly result of
  * the interpret stage (`persist/AddressEntity.java:34-49` recast immutable;
  * rawText is the round-trip invariant column). */
final case class InterpretedAddress(
    id: Long,
    rawText: String,
    text: String, // residual text after extraction
    pid: Long,
    cid: Long,
    did: Long,
    streetId: Long,
    townId: Long,
    villageId: Long,
    road: String,
    roadNum: String,
    buildingNum: String,
    matched: Boolean // visitor.hasResult && hasCity && hasDistrict
)

/** Document term vector of one address — the `.vt` row recast columnar
  * (`similarity/Document.java:11-19`; partKey format `pid-cid[-did]` per
  * `SimilarityComputer.buildCacheKey` `SimilarityComputer.java:619-626`).
  *
  * Terms are stored as parallel arrays (`tTypes` packs one type char per
  * term; `texts`/`idfs` align by position) instead of an array of structs:
  * the doc side is replicated through the linking shuffle, and the flat
  * layout is several times cheaper to serialize/deserialize than per-term
  * struct rows. The only term backref (RoadNum→Road, `Term.java:73-78`) is
  * recoverable from the pinned `road` column. */
final case class DocVec(
    docId: Long,
    partKey: String,
    tTypes: String,
    texts: Array[String],
    idfs: Array[Double],
    town: String,
    village: String,
    road: String,
    roadNum: String,
    roadNumValue: Int
) {
  def nTerms: Int = tTypes.length
  def termType(i: Int): Char = tTypes.charAt(i)
}

/** A transcript turn — the primary pipeline input shape (BASELINE.json input_hint). */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: java.sql.Timestamp
)

/** Emitted knowledge-graph triple. */
final case class Triple(
    subj: String,
    pred: String,
    obj: String,
    score: Double,
    partKey: String
)

/** One row of the per-(partKey, termKey) IDF table (SURVEY.md §2 C1/C2). */
final case class IdfRow(partKey: String, termKey: String, df: Long, idf: Double)

/** Link result: query doc → candidate doc similarity. */
final case class LinkHit(queryId: Long, docId: Long, similarity: Double, rank: Int)
