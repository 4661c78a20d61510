package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** Parquet-backed vector index catalog — the engine's counterpart of the
  * reference's Weaviate/Elasticsearch stores (SURVEY.md D1–D4, E3;
  * reference: kfp/website-ingestor/website-ingestion-pipeline.py:102–138
  * idempotent create, ingestion-pipeline-website-local.py:74–136
  * list/delete, ingestion-pipeline.py:341–353 bulk add).
  *
  * One index = one parquet directory under `root`. Reads are ordinary
  * Spark scans (S6), so every query over an index gets pushdown, pruning
  * and codegen for free; at cluster scale `root` is an object-store
  * prefix and appends are atomic directory-level commits by Spark's
  * parquet committer. Every directory operation goes through the Hadoop
  * filesystem serving `root` ([[Commit.fs]]), so a plain path, a
  * `file:` URI and an object-store URI behave alike. Index names are
  * catalog-normalized by [[graft.pipeline.Product.indexName]]-style
  * callers; this class treats names as opaque (validated against path
  * traversal).
  */
final class ParquetVectorStore(spark: SparkSession, root: String) {

  /** The store's canonical chunk schema (FIXTURES.md §1.5). */
  val chunkSchema: StructType = StructType(Seq(
    StructField("page_content", StringType),
    StructField("metadata", MapType(StringType, StringType)),
    StructField("headers", MapType(StringType, StringType)),
    StructField("embedding", ArrayType(FloatType))))

  /** Legal index names: must START with [a-z0-9] so a name can never
    * collide with the hidden `.`/`_` prefixes that [[listIndexes]]
    * excludes (a `_foo` index would be creatable yet catalog-invisible).
    */
  private val namePattern = "[a-z0-9][a-z0-9_]*"

  private lazy val fs = Commit.fs(spark, root)

  private def dir(index: String): Path = {
    require(index.nonEmpty && index.matches(namePattern),
      s"illegal index name: $index")
    new Path(root, index)
  }

  private def isDirectory(p: Path): Boolean =
    try fs.getFileStatus(p).isDirectory
    catch { case _: java.io.FileNotFoundException => false }

  def exists(index: String): Boolean = isDirectory(dir(index))

  /** D1/D2: create iff absent (idempotent), with the canonical schema. */
  def createIndex(index: String): Unit = if (!exists(index)) {
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], chunkSchema)
      .write.mode(SaveMode.ErrorIfExists).parquet(dir(index).toString)
  }

  /** D3: enumerate indexes (the store IS the catalog). Hidden entries
    * (`.`/`_` prefixes — appendAll staging dirs, committer metadata) are
    * never indexes: they are skipped so an in-flight or crash-orphaned
    * staging directory cannot surface in the catalog.
    */
  def listIndexes(): Seq[String] =
    if (!isDirectory(new Path(root))) Seq.empty
    else fs.listStatus(new Path(root)).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_"))
      .sorted

  /** D4: drop if exists. */
  def deleteIndex(index: String): Unit =
    if (exists(index)) fs.delete(dir(index), true)

  /** E3/E4: bulk append chunks (creates the index if needed). Columns are
    * aligned to the canonical schema by name.
    */
  def append(index: String, chunks: DataFrame): Unit = {
    createIndex(index)
    chunks
      .select(chunkSchema.fieldNames.toIndexedSeq.map(org.apache.spark.sql.functions.col): _*)
      .write.mode(SaveMode.Append).parquet(dir(index).toString)
  }

  /** E3 bulk form: append chunks for MANY indexes in ONE Spark job.
    * The frame is written once with `partitionBy(indexCol)` into a
    * staging directory (so Spark splits rows by index inside the shuffle-
    * free writer, not via one filter-pass per index), then each
    * `index_name=X` partition directory is moved into its index — a
    * directory-level commit, the same pattern Spark's own committer uses.
    * partitionBy drops the partition column from the data files, so the
    * staged files already match [[chunkSchema]] exactly.
    *
    * Returns the distinct indexes written, sorted.
    */
  def appendAll(chunks: DataFrame, indexCol: String = "index_name"): Seq[String] = {
    val staging = new Path(root, s".staging-${java.util.UUID.randomUUID()}")
    try {
      chunks
        .select((indexCol +: chunkSchema.fieldNames.toIndexedSeq)
          .map(org.apache.spark.sql.functions.col): _*)
        .write.mode(SaveMode.Overwrite)
        .partitionBy(indexCol)
        .parquet(staging.toString)
      val parts = fs.listStatus(staging).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith(s"$indexCol="))
        .map(st => st.getPath -> st.getPath.getName.stripPrefix(s"$indexCol="))
      // Validate every STAGED partition name after the single write but
      // BEFORE the first move: the move loop is not atomic, so a name
      // dir() would reject (null → __HIVE_DEFAULT_PARTITION__, uppercase,
      // dash) must fail the whole job while nothing is committed yet.
      // Legal names never get Hive path-escaping, so matching the raw
      // directory suffix is exact — and unlike a pre-write validation
      // pass over the frame, this costs no second Spark job and cannot
      // diverge from what was actually written when the input frame is
      // nondeterministic (no TOCTOU).
      val bad = parts.map(_._2).filterNot(n => n.nonEmpty && n.matches(namePattern))
      require(bad.isEmpty,
        s"illegal index names in $indexCol: ${bad.mkString(", ")}")
      parts.map { case (p, idx) =>
        createIndex(idx)
        fs.listStatus(p).toSeq.map(_.getPath)
          .filter(_.getName.endsWith(".parquet"))
          .zipWithIndex.foreach { case (f, i) =>
            val to = new Path(dir(idx),
              s"part-${java.util.UUID.randomUUID()}-$i.parquet")
            require(fs.rename(f, to), s"could not move $f to $to")
          }
        idx
      }.sorted
    } finally fs.delete(staging, true)
  }

  /** Scan-open metric: number of [[read]] calls this store instance has
    * served. At corpus scale a stray per-micro-batch `read` is a silent
    * O(corpus) cost, so the streaming ingest gates' caching contract —
    * at most one corpus read per novelty-rebuild window — is pinned
    * against this counter (StreamingSpec).
    */
  val readCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** S6: read an index back as a table scan, minus any tombstoned
    * documents. With no deletes pending the plan is byte-identical to
    * a bare scan (the [[IvfIndex]] None discipline — no join node
    * appears at all); with deletes, one broadcast anti-join per
    * distinct tombstone metadata key, on a COMPUTED equi key
    * (`element_at(metadata, k)` left vs the literal value right — a
    * BroadcastHashJoin, never a nested-loop filter).
    */
  def read(index: String): DataFrame = {
    readCount.incrementAndGet()
    val base = spark.read.schema(chunkSchema).parquet(dir(index).toString)
    tombstones(index).fold(base) { t =>
      import org.apache.spark.sql.functions.{broadcast, col, element_at}
      val keys = t.select(col("k")).distinct().collect().map(_.getString(0))
      keys.sorted.foldLeft(base) { (df, k) =>
        df.join(
          broadcast(t.filter(col("k") === k).select(col("v"))),
          element_at(col("metadata"), k) === col("v"), "left_anti")
      }
    }
  }

  /** Per-document DELETE as a tombstone write — the [[IvfIndex.delete]]
    * discipline at the RAG store layer, which is what gives the store
    * GDPR semantics: a delete is one tiny parquet append, immediately
    * visible to every read face (read/count/topRecords all route
    * through [[read]]'s anti-join), and physical reclamation rides
    * [[compactIndex]]. Documents are addressed by a metadata field
    * (default `source`, P15's stamp): deleting a source URL removes
    * every chunk of that document — the unit a right-to-be-forgotten
    * request names. The tombstone directory is `_`-prefixed, so the
    * index's own parquet scan never sees it as data.
    */
  def deleteDocuments(index: String, values: Seq[String],
      metaKey: String = "source"): Unit = {
    import spark.implicits._
    deleteDocumentsFrame(index, values.toDF("v"), metaKey)
  }

  /** [[deleteDocuments]] for a value FRAME — the bulk form ("every
    * source the compliance query matched"), one distributed write.
    */
  def deleteDocumentsFrame(index: String, values: DataFrame,
      metaKey: String = "source"): Unit = {
    require(exists(index), s"no such index: $index")
    import org.apache.spark.sql.functions.{col, lit}
    values
      .select(lit(metaKey).as("k"),
        col(values.columns.head).cast("string").as("v"))
      .write.mode(SaveMode.Append)
      .parquet(new Path(dir(index), "_tombstones").toString)
  }

  /** The live tombstone set, or None when nothing was ever deleted. */
  private def tombstones(index: String): Option[DataFrame] = {
    val p = new Path(dir(index), "_tombstones")
    if (isDirectory(p))
      Some(spark.read.schema(ParquetVectorStore.TombstonesSchema)
        .parquet(p.toString))
    else None
  }

  /** Compact an index: fold the append-accumulated small files and
    * drop tombstoned documents PHYSICALLY, clearing the tombstones —
    * [[IvfIndex.compact]]'s crash-safety story on the store layout:
    * the directory swap is [[Commit.swap]] via `.compacting-<index>`
    * and `.old-<index>`, so the data is always present under some name
    * and the next compact heals a crashed one. Tombstones vanish WITH
    * the swap — the compacted directory is written without them — so a
    * crash before the swap re-drops the same rows next time
    * (idempotent). Returns (dataFilesBefore, dataFilesAfter).
    */
  def compactIndex(index: String, targetFiles: Int = 1): (Long, Long) = {
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    val d = dir(index)
    val tmp = new Path(root, s".compacting-$index")
    // top level only: the `_tombstones/` files are not data files
    def countFiles(p: Path): Long =
      fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet")).toLong
    val before = Commit.swap(fs, d, tmp, new Path(root, s".old-$index")) {
      require(exists(index), s"no such index: $index")
      val before = countFiles(d)
      read(index) // tombstone anti-join applied here
        .coalesce(targetFiles)
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      before
    }
    (before, countFiles(d))
  }

  /** Q2: record count (Spark plans a partial+final count aggregate —
    * unlike the reference, which fetched every row to count them,
    * ingestion-pipeline-website-local.py:94–118).
    */
  def count(index: String): Long = read(index).count()

  /** Q1 (ingestion-pipeline-website-local.py:32–71): sample records —
    * project (page_content, metadata), take n. Plans as CollectLimit:
    * only n rows leave the executors.
    */
  def topRecords(index: String, n: Int = 10): DataFrame =
    read(index).select("page_content", "metadata").limit(n)
}

object ParquetVectorStore {

  /** `<index>/_tombstones/`: (k, v) — the metadata key and value
    * [[ParquetVectorStore.deleteDocumentsFrame]] writes per deleted
    * document.
    */
  private[store] val TombstonesSchema: StructType = StructType(Seq(
    StructField("k", StringType),
    StructField("v", StringType)))
}
