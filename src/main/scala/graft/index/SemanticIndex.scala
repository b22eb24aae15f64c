package graft.index

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.plans.{Resident, VectorTopK}

/** Duplicate-handling strategies, mirroring the reference enum
  * (/root/reference/ChatAIze.SemanticIndex/DuplicateHandling.cs). */
sealed trait DuplicateHandling
object DuplicateHandling {
  /** Always append, even if the key already exists. */
  case object Allow extends DuplicateHandling
  /** New record replaces the existing one (last write wins). */
  case object Update extends DuplicateHandling
  /** Keep the existing record, drop the new one. */
  case object Skip extends DuplicateHandling
  /** Raise if any incoming key already exists. */
  case object Throw extends DuplicateHandling
}

/** Raised by [[SemanticIndex.add]] under [[DuplicateHandling.Throw]],
  * mirroring the reference's InvalidOperationException
  * (/root/reference/ChatAIze.SemanticIndex/SemanticDatabase.cs:176). */
final class DuplicateItemException(msg: String) extends RuntimeException(msg)

/**
 * Spark-native semantic index: the reference's `SemanticDatabase<T>`
 * (/root/reference/ChatAIze.SemanticIndex/SemanticDatabase.cs)
 * re-expressed as an immutable DataFrame of
 * `(item: string, embedding: array<float>, …)` rows.
 *
 * Item type: the `item` column may be a STRING or any STRUCT — the
 * generic-`T` surface of `SemanticDatabase<T>` (SemanticDatabase.cs:14).
 * Struct items embed through their JSON serialization (the reference
 * embeds `JsonSerializer.Serialize(item)`, SemanticDatabase.cs:161) and
 * duplicate identity is whole-item equality (`r.Item.Equals(item)`),
 * which Spark's struct equality expresses directly in the anti/semi
 * joins below.
 *
 * Design departures from the reference, deliberate for 100 TB scale:
 *  - The record list is a distributed, columnar Dataset, not an
 *    in-memory `List<T>` behind a lock; every mutator returns a NEW
 *    index (immutable persistent style), and persistence is parquet
 *    (JSON import/export kept for file-level compat).
 *  - Duplicate identity is the `item` value, matching the reference's
 *    whole-item equality, implemented as relational anti/semi joins
 *    rather than O(n) scans per insert: adds are batch-first.
 *  - `search` is a dot-product (or cosine) top-k that Spark plans as
 *    one operator ([[graft.plans.VectorTopK]]): each task scores its
 *    partition's vectors into per-query k-heaps, copies only the rows
 *    that enter a heap, and the driver merges #partitions×q×k rows —
 *    no corpus shuffle, one Spark stage per collect, scales linearly
 *    with executors. `searchMany` runs the same operator for q queries
 *    in one pass.
 *  - Like the reference's resident `List<T>`, each instance searches a
 *    resident form of its records ([[graft.plans.Resident]]), not a
 *    parquet decode per query: its first search scans `records` once
 *    and, in the same stage, keeps one block per scan partition — the
 *    vectors in a contiguous off-heap float region, the other columns
 *    as off-heap rows — cached `MEMORY_ONLY` across the executors. Later
 *    searches read only the blocks; an evicted block is rebuilt from
 *    the scan's lineage. A block that storage memory could not hold
 *    (or a partition past the 2 GiB one block holds) is not built
 *    again: later searches score that partition's scan directly.
 *    [[residentBytes]] reports what is held.
 *  - Snapshot rule: an instance answers from what its first search
 *    read. Files written under a loaded path afterwards are not seen
 *    until the path is loaded again. Mutators return a new instance,
 *    which builds its own blocks; [[count]], [[contains]], [[save]] and
 *    the mutators themselves never build any.
 */
final class SemanticIndex private (
    val spark: SparkSession,
    val records: DataFrame, // schema: item string, embedding array<float>
    val embedder: Embedder,
    val duplicateHandling: DuplicateHandling) extends Serializable {

  import SemanticIndex._

  private def withRecords(df: DataFrame): SemanticIndex =
    new SemanticIndex(spark, df, embedder, duplicateHandling)

  // this instance's records, held resident by its first search
  @transient private[graft] lazy val resident = new Resident

  /** Bytes this instance's resident blocks hold now: its vectors as
    * floats off-heap, plus the other columns and a small header per
    * block; 0 before the first search. Not heap: the vector and row
    * bytes live in direct buffers. */
  def residentBytes: Long = resident.bytes(spark.sparkContext)

  /** Number of records (reference `Count`). */
  def count(): Long = records.count()

  /** All stored items (reference `GetAll`). */
  def getAll(): DataFrame = records.select(ITEM)

  /** Membership by item equality (reference `Contains`). */
  def contains(item: String): Boolean =
    !records.where(col(ITEM) === lit(item)).isEmpty

  /** Membership for a batch of items of any type (first column of
    * `items`): true iff EVERY distinct item is present — struct items
    * compare by whole-item equality, like the reference's
    * `r.Item.Equals(item)`. */
  def containsItems(items: DataFrame): Boolean = {
    val keys = items.select(col(items.columns.head).as(ITEM)).distinct()
    keys.join(records.select(ITEM), Seq(ITEM), "left_anti").isEmpty
  }

  /**
   * Batch add with duplicate handling (reference `AddAsync`/`AddRangeAsync`).
   * Items are embedded distributed-side via the pluggable [[Embedder]].
   *
   * Intra-batch duplicates follow the reference's sequential
   * `AddRangeAsync` semantics: under Update/Skip a batch containing the
   * same item twice ends with ONE record (the embedder is
   * deterministic, so keep-first and keep-last are the same record —
   * expressed as `distinct()`); under Throw an intra-batch duplicate
   * throws just like an existing one; under Allow every copy appends.
   */
  def add(items: DataFrame): SemanticIndex = {
    val embedded = embedAll(items, embedder)
    // a service-backed embedder pays an RPC per batch: cache the
    // embedded frame so the duplicate probes/joins below and later
    // actions on the index don't re-embed the batch (the cache is
    // LRU-evictable, so this degrades gracefully under memory pressure)
    val incoming =
      if (embedder.isExpensive)
        embedded.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else embedded
    duplicateHandling match {
      case DuplicateHandling.Allow =>
        withRecords(records.unionByName(incoming))
      case DuplicateHandling.Update =>
        // last write wins: drop existing rows whose item re-arrives
        withRecords(
          records.join(incoming.select(ITEM), Seq(ITEM), "left_anti")
            .unionByName(incoming.distinct()))
      case DuplicateHandling.Skip =>
        withRecords(
          records.unionByName(
            incoming.distinct().join(records.select(ITEM), Seq(ITEM), "left_anti")))
      case DuplicateHandling.Throw =>
        // one probe finds either kind of duplicate: against the
        // existing records (semi join) or within the batch itself
        val clash = incoming.join(records.select(ITEM), Seq(ITEM), "left_semi")
          .select(ITEM)
          .unionByName(incoming.groupBy(col(ITEM)).count()
            .filter(col("count") > 1).select(ITEM))
          .limit(1).collect()
        if (clash.nonEmpty) {
          throw new DuplicateItemException(
            s"Item already exists in the database: ${clash.head.get(0)}")
        }
        withRecords(records.unionByName(incoming))
    }
  }

  /** Remove by item equality (reference `Remove`/`RemoveRange`). */
  def remove(items: DataFrame): SemanticIndex =
    withRecords(records.join(items.select(col(items.columns.head).as(ITEM)),
      Seq(ITEM), "left_anti"))

  /** Drop everything (reference `Clear`). */
  def clear(): SemanticIndex = withRecords(records.limit(0))

  /**
   * Dot-product top-k (reference `Search(embedding, count)`,
   * SemanticDatabase.cs:253): every `records` column plus `score`,
   * best-first. Ties break on item for determinism (the reference
   * nudges scores by 1e-6 — an artifact of its SortedList); NaN ranks
   * above every number and a null embedding's null score last. `k`
   * must not be negative; `k` = 0 gives no rows.
   */
  def search(embedding: Array[Float], k: Int = 10): DataFrame =
    VectorTopK.frame(records, ITEM, EMBEDDING, QueryBatch.single(embedding), k, cosine = false, batch = false,
      resident)

  /** Cosine variant for non-normalized embedding spaces. */
  def searchCosine(embedding: Array[Float], k: Int = 10): DataFrame =
    VectorTopK.frame(records, ITEM, EMBEDDING, QueryBatch.single(embedding), k, cosine = true, batch = false,
      resident)

  /** Top-1 (reference `SearchFirst`). */
  def searchFirst(embedding: Array[Float]): Option[String] =
    search(embedding, 1).collect().headOption.map(_.getAs[String](ITEM))

  /**
   * Batch search: every query in `queries` (query_id, embedding) gets
   * its top-k, ranked exactly like [[search]], from ONE shared scan of
   * the records: each record's embedding is read once and scored
   * against all q queries, and each query keeps a bounded k-heap. A
   * task therefore emits at most q×k rows however many records it
   * reads, the corpus never shuffles, and the merge that assigns `rank`
   * 1..k runs on the driver, so a collect is one Spark stage. For q
   * queries this replaces q corpus passes with one. Inside that pass the
   * queries of one length are scored 8 at a time over the record's
   * floats, each into its own accumulator in element order, so every
   * score keeps `vec_dot`'s bits; the queries left over take one pass
   * over the floats each.
   *
   * The query batch is COLLECTED to the driver when `searchMany` is
   * called (it is a constant of the returned plan), so it must stay
   * broadcast-sized; the records side stays lazy. Rows that repeat a
   * `query_id` share one top-k under that id. Output: `query_id` (its
   * input type), `item`, `score`, `rank`.
   */
  def searchMany(queries: DataFrame, k: Int = 10): DataFrame =
    VectorTopK.frame(records, ITEM, EMBEDDING, QueryBatch.collect(queries), k, cosine = false, batch = true,
      resident)

  /** Text-query search (reference `SearchAsync(query, count)`):
    * embed the query with the same embedder, then vector search. */
  def searchText(query: String, k: Int = 10): DataFrame =
    search(embedder.embedOne(query), k)

  /** Object-query search (reference `SearchAsync(object query, count)`,
    * SemanticDatabase.cs:359): the first row of `query` (any struct)
    * is JSON-serialized — exactly how struct items were embedded — and
    * searched. */
  def searchObject(query: DataFrame, k: Int = 10): DataFrame = {
    val qCol = col(query.columns.head)
    // serialize exactly the way embedAll embeds: strings as-is,
    // anything else through its JSON form
    val text = query.schema(query.columns.head).dataType match {
      case org.apache.spark.sql.types.StringType => qCol
      case _ => to_json(qCol)
    }
    val json = query.select(text).head().getString(0)
    search(embedder.embedOne(json), k)
  }

  /** Top-1 item of any type (generic-`T` `SearchFirst`). */
  def searchFirstItem(embedding: Array[Float]): Option[Any] =
    search(embedding, 1).collect().headOption.map(_.getAs[Any](ITEM))

  /** Re-embed every record (reference `RefreshEmbeddingsAsync`). */
  def refreshEmbeddings(): SemanticIndex =
    withRecords(embedAll(records.drop(EMBEDDING), embedder))

  /** Persist as parquet — the scale path (reference `SaveAsync` is a
    * single JSON file; see [[saveJson]] for compat).
    *
    * `bloomFilterNdv`: expected distinct items — when set, the writer
    * embeds a parquet BLOOM FILTER on the `item` column (string items;
    * bloom filters attach to leaf columns), so point lookups
    * ([[contains]], the [[add]] duplicate probes) skip row groups that
    * provably lack the key instead of decoding them. At 100 TB that
    * turns a membership probe from a column scan into footer reads +
    * a few row groups. Row-group min/max stats are always written. */
  def save(path: String, bloomFilterNdv: Option[Long] = None): Unit = {
    val w = records.write.mode(SaveMode.Overwrite)
    bloomFilterNdv
      .fold(w) { ndv =>
        w.option(s"parquet.bloom.filter.enabled#$ITEM", "true")
          .option(s"parquet.bloom.filter.expected.ndv#$ITEM", ndv.toString)
      }
      .parquet(path)
  }

  /**
   * Persist as a catalog table BUCKETED on `item` — the layout for an
   * index that takes sustained add/remove/contains traffic at scale.
   * Identity joins against a bucketed index shuffle ONLY the incoming
   * batch (Spark aligns it to the index's bucketing); the 100 TB index
   * side never moves, where the plain-parquet layout re-shuffles the
   * whole index on every duplicate probe that outgrows a broadcast.
   * Load with [[SemanticIndex.loadTable]]; `sortBy(item)` keeps the
   * per-bucket merge sort-free.
   *
   * Writing back to the table this index was LOADED from (the refresh
   * cycle: loadTable → add/remove → saveBucketed) would be a
   * read-from/overwrite conflict, so when the target exists the write
   * goes to a staging table first and is swapped in by a
   * backup-rename cycle: live → backup, staging → live, drop backup.
   * Every failure point leaves a recoverable generation — a crash
   * between the renames leaves the old data intact under
   * `<table>__graft_bak` (a dropped-then-rename swap would have
   * already deleted it). Reload (loadTable) afterwards; this index
   * object still plans over the replaced generation.
   */
  /**
   * Persist the index Z-ORDERED by two embedding components — the
   * `q_zorder` layout surfaced as an index persistence option the way
   * [[saveBucketed]] surfaces bucketing. Components `dimA`/`dimB`
   * (default: the two leading dims — for PCA- or Matryoshka-rotated
   * embeddings these carry the most variance) are materialized as
   * TOP-LEVEL columns `zc_a`/`zc_b`, the corpus is range-written by
   * their interleaved Morton key, and every file's parquet min/max
   * stats then bound a RECTANGLE in (zc_a, zc_b) space — so a
   * component-window prefilter (`zc_a BETWEEN … AND zc_b BETWEEN …`,
   * the coarse-to-fine ANN prefilter shape) skips files on BOTH
   * components, where a single-component sort full-scans the other
   * (StorageLayoutSpec counts it from real file stats). Load with
   * `spark.read.parquet` + [[SemanticIndex.fromRecords]]; the extra
   * columns are derived and ignored by the search paths.
   */
  def saveZordered(path: String, dimA: Int = 0, dimB: Int = 1,
      nFiles: Int = 16): Unit = {
    val withC = records
      .withColumn("zc_a", col(EMBEDDING).getItem(dimA).cast("double"))
      .withColumn("zc_b", col(EMBEDDING).getItem(dimB).cast("double"))
    val mm = withC.agg(
      org.apache.spark.sql.functions.min(col("zc_a")),
      org.apache.spark.sql.functions.max(col("zc_a")),
      org.apache.spark.sql.functions.min(col("zc_b")),
      org.apache.spark.sql.functions.max(col("zc_b"))).head()
    val (aMin, aMax) = (mm.getDouble(0), mm.getDouble(1))
    val (bMin, bMax) = (mm.getDouble(2), mm.getDouble(3))
    withC
      .withColumn("z", graft.queries.RelationalQueries.zKey2(
        col("zc_a"), col("zc_b"), aMin, aMax - aMin, bMin, bMax - bMin))
      .repartitionByRange(nFiles, col("z"))
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  def saveBucketed(table: String, nBuckets: Int = 64): Unit = {
    def writeTo(target: String): Unit =
      records.write.mode(SaveMode.Overwrite)
        .bucketBy(nBuckets, ITEM).sortBy(ITEM)
        .saveAsTable(target)
    if (!spark.catalog.tableExists(table)) writeTo(table)
    else {
      val staging = s"${table}__graft_stage"
      val backup = s"${table}__graft_bak"
      spark.sql(s"DROP TABLE IF EXISTS `$staging`")
      writeTo(staging)
      // swap: the live table is never dropped until its replacement is
      // in place under the live name
      spark.sql(s"DROP TABLE IF EXISTS `$backup`")
      spark.sql(s"ALTER TABLE `$table` RENAME TO `$backup`")
      try spark.sql(s"ALTER TABLE `$staging` RENAME TO `$table`")
      catch {
        case e: Throwable =>
          // roll the old generation back in; staging remains for retry
          spark.sql(s"ALTER TABLE `$backup` RENAME TO `$table`")
          throw e
      }
      spark.sql(s"DROP TABLE `$backup`")
    }
  }

  /** Single-file JSON export in the reference's `SaveAsync` shape: ONE
    * file holding ONE JSON array of `{"Item":…,"Embedding":[…]}`
    * records, readable by `JsonSerializer.DeserializeAsync
    * <List<SemanticRecord<T>>>` (SemanticDatabase.cs:525). Rows are
    * serialized distributed-side (`to_json`) and only the final byte
    * concatenation happens on the driver — this is the compat path for
    * reference-scale data; [[save]] (parquet) is the scale path. */
  def saveJson(path: String): Unit = {
    val rows = records
      .select(to_json(struct(col(ITEM).as("Item"), col(EMBEDDING).as("Embedding"))))
      .collect().map(_.getString(0))
    val out = rows.mkString("[", ",", "]")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      out.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object SemanticIndex {
  val ITEM = "item"
  val EMBEDDING = "embedding"

  /** Empty index. */
  def empty(spark: SparkSession, embedder: Embedder = HashEmbedder(),
      duplicateHandling: DuplicateHandling = DuplicateHandling.Update): SemanticIndex = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(ITEM, org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField(EMBEDDING,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    new SemanticIndex(spark,
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      embedder, duplicateHandling)
  }

  /** Build from a DataFrame whose first column is the item text. */
  def fromItems(spark: SparkSession, items: DataFrame,
      embedder: Embedder = HashEmbedder(),
      duplicateHandling: DuplicateHandling = DuplicateHandling.Update): SemanticIndex =
    new SemanticIndex(spark, embedAll(items, embedder), embedder, duplicateHandling)

  /** Build from pre-embedded records (item + embedding columns). */
  def fromRecords(spark: SparkSession, records: DataFrame,
      embedder: Embedder = HashEmbedder(),
      duplicateHandling: DuplicateHandling = DuplicateHandling.Update): SemanticIndex =
    new SemanticIndex(spark, records, embedder, duplicateHandling)

  /** Load a parquet-persisted index (reference `FromFileAsync`). */
  def load(spark: SparkSession, path: String,
      embedder: Embedder = HashEmbedder(),
      duplicateHandling: DuplicateHandling = DuplicateHandling.Update): SemanticIndex =
    new SemanticIndex(spark, spark.read.parquet(path), embedder, duplicateHandling)

  /** Load a bucketed-table index written by [[SemanticIndex.saveBucketed]];
    * identity joins consume the bucketing (no index-side shuffle). */
  def loadTable(spark: SparkSession, table: String,
      embedder: Embedder = HashEmbedder(),
      duplicateHandling: DuplicateHandling = DuplicateHandling.Update): SemanticIndex =
    new SemanticIndex(spark, spark.table(table), embedder, duplicateHandling)

  /** Load the reference's JSON file shape: a single file holding one
    * JSON array `[{Item, Embedding}, …]` (what `SaveAsync` writes and
    * [[SemanticIndex.saveJson]] emits) — read with `multiLine` so a
    * pretty-printed .NET file parses too. Falls back to JSON-Lines
    * (one record per line) for directory exports from older versions.
    * `Item` keeps its inferred type (string or struct). */
  def loadJson(spark: SparkSession, path: String,
      embedder: Embedder = HashEmbedder(),
      duplicateHandling: DuplicateHandling = DuplicateHandling.Update): SemanticIndex = {
    val multi = spark.read.option("multiLine", true).json(path)
    // a directory of JSON-Lines part files can HALF-parse under
    // multiLine (single-record parts parse, multi-record parts become
    // _corrupt_record) — any corrupt column means fall back to the
    // line-oriented reader rather than silently dropping records
    val df =
      if (multi.columns.contains("Item") && !multi.columns.contains("_corrupt_record")) multi
      else spark.read.json(path)
    val records = df.select(col("Item").as(ITEM),
      col("Embedding").cast("array<float>").as(EMBEDDING))
    new SemanticIndex(spark, records, embedder, duplicateHandling)
  }

  /** Embed the first column of `items`: strings embed as-is; any other
    * type embeds through its JSON serialization, exactly like the
    * reference's `JsonSerializer.Serialize(item)` →
    * `GetEmbeddingAsync(json)` (SemanticDatabase.cs:161). */
  private def embedAll(items: DataFrame, embedder: Embedder): DataFrame = {
    graft.functions.registerAll(items.sparkSession)
    val itemCol = col(items.columns.head)
    val itemDt = items.schema(items.columns.head).dataType
    val embedText = itemDt match {
      case org.apache.spark.sql.types.StringType => itemCol
      case _ => to_json(itemCol)
    }
    // route through embedFrame so both kernel-backed (Column transform)
    // and service-backed (partition-wise batched) embedders plug in
    embedder
      .embedFrame(items.select(itemCol.as(ITEM), embedText.as("__embed_text")),
        "__embed_text", EMBEDDING)
      .drop("__embed_text")
  }
}
