package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The batch-keyed layout every incremental catalog and micro-batch
  * sink shares: batch `id` of a table lives in `<root>/batch-<id>/`,
  * written with overwrite, so a crash-retried batch REPLACES its
  * earlier (possibly partial) files instead of duplicating rows; a
  * retry reads the table WITHOUT its own batch, so it sees exactly
  * the catalog its first attempt saw. One writer ([[write]]), one
  * reader ([[read]]) and one micro-batch loop ([[stream]]) own that
  * rule; [[Kind]] builds the catalog merge, append and classify-batch
  * steps on top of them. */
object BatchCatalog {

  /** The directory batch `batchId` of `root` lives in. */
  def dir(root: String, batchId: Long): String = s"$root/batch-$batchId"

  /** Write `df` as batch `batchId` of `root`, replacing any earlier attempt. */
  def write(df: DataFrame, root: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(dir(root, batchId))

  /** Read a batch-keyed table, optionally without batch `excludeBatch`
    * (the crash-retry view). A missing root, an empty one, or one
    * holding only the excluded batch reads as an empty frame of
    * `schema`. The listing is one driver-side call against the ROOT
    * (children only), so it stays O(#batches) at any table size. */
  def read(spark: SparkSession, root: String, schema: => StructType,
           excludeBatch: Option[Long] = None): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val usable =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath)
        .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith(".") ||
          excludeBatch.exists(id => c.getName == s"batch-$id"))
    if (usable.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.option("recursiveFileLookup", "true")
      .parquet((if (excludeBatch.isEmpty) Seq(root) else usable.map(_.toString)): _*)
  }

  /** Run `body` on every non-empty micro-batch of `frames` with its
    * batch id (stable across retries by Spark's foreachBatch contract). */
  def stream(frames: DataFrame, checkpoint: String)
            (body: (DataFrame, Long) => Unit): StreamingQuery =
    frames.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) body(batch.toDF(), batchId)
        ()
      }
      .start()

  /** The `incoming` rows whose verdict is `novel`. */
  private def novelOf(incoming: DataFrame, verdicts: DataFrame): DataFrame =
    incoming.join(verdicts.filter(col("status") === "novel").select(col("doc_id")),
      Seq("doc_id"), "left_semi")

  /** The best catalog match per incoming doc: rank-1 of each `doc_id`'s
    * candidates by `score`, ties to the lowest catalog id `cid`. */
  private[graft] def bestMatch(cand: DataFrame, score: org.apache.spark.sql.Column): DataFrame =
    cand.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(score, col("cid"))))
      .filter(col("rn") === 1)

  /** A catalog family: `build` turns a batch of `input`-shaped rows
    * into that batch's rows of each catalog table, in table order. The
    * catalog is a bag of per-doc rows, so appending a batch's build IS
    * the rebuild: merge(build(C), A) == build(C ∪ A) table by table.
    *
    * `novelOnly = true` is the storage-lean mode: only docs whose
    * verdict was `novel` enter the catalog. Exact-dup classification of
    * future batches is unchanged (a future copy still matches the
    * catalog doc the dup pointed at), but near-dups whose only
    * neighbour was a skipped non-novel doc can downgrade. */
  final case class Kind(input: StructType, build: DataFrame => Seq[DataFrame]) {

    private def batchTables(incoming: DataFrame, verdicts: DataFrame,
                            novelOnly: Boolean): Seq[DataFrame] =
      build(if (novelOnly) novelOf(incoming, verdicts) else incoming)

    /** Extend in-memory catalog tables with a classified batch: one
      * unionByName per table, the catalog side never re-read. */
    def merge(tables: Seq[DataFrame], incoming: DataFrame, verdicts: DataFrame,
              novelOnly: Boolean = false): Seq[DataFrame] =
      tables.zip(batchTables(incoming, verdicts, novelOnly))
        .map { case (t, b) => t.unionByName(b) }

    /** Persisted [[merge]]: write the batch's rows of each table as batch
      * `batchId` of its root. O(batch): the existing catalog files are
      * never touched, and a retried batch replaces its earlier append. */
    def append(roots: Seq[String], incoming: DataFrame, verdicts: DataFrame,
               batchId: Long, novelOnly: Boolean = false): Unit =
      roots.zip(batchTables(incoming, verdicts, novelOnly))
        .foreach { case (r, b) => write(b, r, batchId) }

    /** The catalog tables at `roots` (see [[BatchCatalog.read]]); an
      * empty table reads with the schema `build` yields for an empty input. */
    def read(spark: SparkSession, roots: Seq[String],
             excludeBatch: Option[Long] = None): Seq[DataFrame] = {
      lazy val empty =
        build(spark.createDataFrame(java.util.Collections.emptyList[Row](), input))
      roots.zipWithIndex.map { case (r, i) =>
        BatchCatalog.read(spark, r, empty(i).schema, excludeBatch)
      }
    }

    /** One micro-batch of a catalog stream: classify `batch` against the
      * catalog without its own earlier append, write the verdicts as
      * batch `batchId` of `verdictsPath`, release the classifier's
      * per-batch cache, then append the batch. The verdict write is the
      * classification plan's only action; the append re-reads the
      * verdicts from the files just written, so its lineage never
      * re-reads the catalog paths it appends to. */
    def classifyBatch(batch: DataFrame, batchId: Long, roots: Seq[String],
                      verdictsPath: String, novelOnly: Boolean)
                     (classify: Seq[DataFrame] => (DataFrame, Option[DataFrame])): Unit = {
      val spark = batch.sparkSession
      val (verdicts, cache) = classify(read(spark, roots, Some(batchId)))
      write(verdicts, verdictsPath, batchId)
      cache.foreach(_.unpersist())
      append(roots, batch, spark.read.parquet(dir(verdictsPath, batchId)),
        batchId, novelOnly)
    }
  }
}
