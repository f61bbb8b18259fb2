package graft.index

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.codec.PostingCodec
import graft.query.Bm25

/** LSM compaction of index generations — the analog of the reference's
  * `compact` + `isolate` maintenance pair
  * (/root/reference/include/usearch/index.hpp:3595-3682, :3700-3728):
  * k generations are folded into one snapshot, tombstoned documents are
  * physically dropped (postings AND norms), and every posting block is
  * re-encoded so its block-max summary reflects the merged corpus stats.
  *
  * Two strategies, identical results:
  *
  *   - [[mergeAligned]] — generations sharing a bucketSize (built with
  *     `fixedBucketSize`, the steady-state LSM shape) merge PER BUCKET:
  *     posting rows and norms shuffle once, keyed by bucket, and each
  *     bucket task k-way-merges its already-sorted lists and re-encodes
  *     blocks under the merged avgdl. Data moved ≈ the compressed index
  *     (varbyte blocks), with no per-posting row explosion.
  *   - [[mergeRebuild]] — the general path for arbitrary geometries:
  *     decode source segments back to (doc_id, term, tf) rows and
  *     rebuild through IndexBuilder.buildFromTf. Reuses the one tested
  *     build path, so a merged index is byte-equivalent in behavior to a
  *     fresh build over the surviving docs — but re-shuffles every
  *     posting as an uncompressed row (3 shuffles + 2 materializations
  *     of the tf table).
  *
  * [[merge]] dispatches: aligned when every generation shares one
  * bucketSize and no re-bucketing was requested, rebuild otherwise.
  */
object SegmentMerger {

  /** Decode one generation's segments to tf rows. */
  def decodedTf(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(IndexBuilder.Layout(root).segments).as[PostingRow]
      .flatMap { row =>
        val p = Searcher.PostingRows.decode(row)
        Iterator.tabulate(p.size)(i => (p.docIds(i), row.term, p.tfs(i).toLong))
      }
      .toDF("doc_id", "term", "tf")
  }

  /** Merge generations into `outRoot`. `tombstones`: doc_ids to drop
    * (the remove/isolate path). Returns the merged stats.
    */
  def merge(
      spark: SparkSession,
      roots: Seq[String],
      outRoot: String,
      tombstones: Option[DataFrame] = None,
      targetBuckets: Int = 0): IndexStats = {
    require(roots.nonEmpty)
    val sharedGeometry =
      roots.map(r => Meta.readStats(r).bucketSize).distinct.size == 1
    if (targetBuckets == 0 && sharedGeometry)
      mergeAligned(spark, roots, outRoot, tombstones)
    else
      mergeRebuild(spark, roots, outRoot, tombstones, targetBuckets)
  }

  /** Bucket-aligned merge (see object doc). Requires every root to share
    * one bucketSize; the merged index keeps it. Liveness authority is the
    * merged norms table: a posting survives iff its doc's length row
    * survived tombstoning — so postings filtering is a binary search per
    * posting inside the bucket task, never a join over posting rows.
    */
  def mergeAligned(
      spark: SparkSession,
      roots: Seq[String],
      outRoot: String,
      tombstones: Option[DataFrame] = None): IndexStats = {
    import spark.implicits._
    require(roots.nonEmpty)
    val bucketSizes = roots.map(r => Meta.readStats(r).bucketSize).distinct
    require(bucketSizes.size == 1,
      s"generations disagree on bucketSize ($bucketSizes) — use mergeRebuild")
    val bucketSize = bucketSizes.head
    val layout = IndexBuilder.Layout(outRoot)
    Files.createDirectories(Paths.get(outRoot))

    // tombstones grouped per bucket (sorted arrays) — shipped into the
    // norms-merge tasks; no driver materialization
    val tombByBucket = tombstones match {
      case Some(ts) => ts.select(col("doc_id").cast("long")).as[Long]
        .groupByKey(id => (id / bucketSize).toInt)
        .mapGroups((b, it) => (b, it.toArray.sorted))
      case None => spark.emptyDataset[(Int, Array[Long])]
    }

    // ---- merged norms: k-way merge of per-bucket sorted arrays ----------
    val lensAll = roots
      .map(r => spark.read.parquet(IndexBuilder.Layout(r).doclens).as[DocLenRow])
      .reduce(_ union _)
    lensAll.groupByKey(_.bucket)
      .cogroup(tombByBucket.groupByKey(_._1)) { (bucket, rows, tombs) =>
        val dead = tombs.flatMap(_._2).toSet
        val pairs = rows.flatMap(r => r.docIds.zip(r.lens))
          .filter(p => !dead.contains(p._1)).toArray.sortBy(_._1)
        // LSM generations own DISJOINT id ranges; the same doc in two
        // generations (an update ingested without tombstoning the old
        // revision) would silently double its postings — fail loudly
        var i = 1
        while (i < pairs.length) {
          if (pairs(i)._1 == pairs(i - 1)._1)
            throw new IllegalStateException(
              s"doc ${pairs(i)._1} exists in more than one generation " +
                "(bucket " + bucket + ") — tombstone the stale revision before merging")
          i += 1
        }
        if (pairs.isEmpty) Iterator.empty
        else Iterator.single(DocLenRow(bucket, pairs.map(_._1), pairs.map(_._2)))
      }
      .write.mode(SaveMode.Overwrite).parquet(layout.doclens)
    Files.writeString(layout.statusFile("doclens"), "merged")

    val lens = spark.read.parquet(layout.doclens).as[DocLenRow]
    val totalsRow = lens.select(explode(col("lens")).as("l"))
      .agg(count(lit(1)), sum(col("l"))).head()
    val (mergedTokenedDocs, totalTokens) = (totalsRow.getLong(0), totalsRow.getLong(1))
    val nBuckets = lens.select(col("bucket")).distinct().count().toInt
    // BM25's N must equal a fresh build over the union corpus, which
    // counts zero-token docs too (IndexBuilder.build uses corpus.count()
    // while doclens hold only tokened docs). N = Σ generation meta nDocs
    // − tombstoned docs observable in the doclens; a tombstoned
    // ZERO-token doc leaves no trace in any index table, so its removal
    // cannot decrement N — the one documented divergence from a fresh
    // survivor build. For corpora without zero-token docs the formula
    // reduces to the merged-doclens count (previous behavior).
    val sumMetaNDocs = roots.map(r => Meta.readStats(r).nDocs).sum
    val sourceTokenedDocs = lensAll.select(explode(col("docIds"))).count()
    val nDocs = sumMetaNDocs - (sourceTokenedDocs - mergedTokenedDocs)
    val avgdl = totalTokens.toDouble / nDocs.toDouble

    // ---- merged segments: per-bucket k-way posting merge + re-encode ----
    val segsAll = roots
      .map(r => spark.read.parquet(IndexBuilder.Layout(r).segments).as[PostingRow])
      .reduce(_ union _)
    val avgdlLocal = avgdl
    segsAll.groupByKey(_.bucket)
      .cogroup(lens.groupByKey(_.bucket)) { (bucket, posts, lensIt) =>
        val lensArr = lensIt.toArray
        if (lensArr.isEmpty) Iterator.empty // whole bucket tombstoned
        else {
          val dIds = lensArr.head.docIds
          val dLens = lensArr.head.lens
          posts.toArray.groupBy(_.term).iterator.flatMap { case (term, rows) =>
            // decode each generation's (already-sorted, disjoint-range)
            // list, keep live postings, merge by docId
            val pairs = rows.iterator.flatMap { r =>
              val p = Searcher.PostingRows.decode(r)
              Iterator.tabulate(p.size)(i => (p.docIds(i), p.tfs(i)))
            }.filter(p => java.util.Arrays.binarySearch(dIds, p._1) >= 0)
              .toArray.sortBy(_._1)
            if (pairs.isEmpty) Iterator.empty
            else {
              val ids = pairs.map(_._1)
              val tfs = pairs.map(_._2)
              val norms = Array.tabulate(ids.length) { i =>
                val di = java.util.Arrays.binarySearch(dIds, ids(i))
                Bm25.tfNorm(tfs(i), dLens(di), avgdlLocal)
              }
              val blocks = PostingCodec
                .encodeBlocks(ids, tfs, i => norms(i))
                .map(b => EncBlock(b.firstDocId, b.lastDocId, b.count, b.maxTfNorm, b.bytes))
              Iterator.single(PostingRow(term, bucket, ids.length.toLong, norms.max, blocks))
            }
          }
        }
      }
      .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(layout.segments)
    IndexBuilder.ensureReadableWhenEmpty[PostingRow](spark, layout.segments)
    Files.writeString(layout.statusFile("segments"), "merged")

    // ---- dictionary + metadata: the builder's own stage-4 path ----------
    val (nTerms, totalPostings) = IndexBuilder.writeDictFiles(spark, layout)
    Meta.writeStats(outRoot,
      IndexStats(nDocs, totalTokens, nTerms, totalPostings, bucketSize, nBuckets))
    Files.writeString(layout.statusFile("dict"), "merged")
    Files.writeString(Paths.get(outRoot, "geometry.properties"),
      s"buckets=$nBuckets\nbucketSize=$bucketSize\n")
    Meta.appendManifest(outRoot, Seq(
      ManifestRow(1L, "merge_aligned", -1, roots.mkString(","), nDocs, 0L, "committed")))
    Meta.readStats(outRoot)
  }

  /** General-geometry merge: decode to tf rows, anti-join tombstones,
    * rebuild via the one tested build path.
    */
  def mergeRebuild(
      spark: SparkSession,
      roots: Seq[String],
      outRoot: String,
      tombstones: Option[DataFrame] = None,
      targetBuckets: Int = 0): IndexStats = {
    import spark.implicits._
    require(roots.nonEmpty)

    val tf0 = roots.map(decodedTf(spark, _)).reduce(_ union _)
    val tf = tombstones match {
      case Some(ts) => tf0.join(ts.select(col("doc_id")), Seq("doc_id"), "left_anti")
      case None => tf0
    }

    // surviving corpus cardinality: Σ generation meta nDocs (which count
    // zero-token docs, like a fresh build's corpus.count()) minus the
    // tombstoned docs observable in the doclens — same N rule as
    // mergeAligned, so both paths stay score-identical to a fresh build
    // even when the corpus holds empty documents.
    val docsAll = roots
      .map(r => spark.read.parquet(IndexBuilder.Layout(r).doclens).as[DocLenRow]
        .flatMap(_.docIds).toDF("doc_id"))
      .reduce(_ union _)
    val docs = tombstones match {
      case Some(ts) => docsAll.join(ts.select(col("doc_id")), Seq("doc_id"), "left_anti")
      case None => docsAll
    }
    val sumMetaNDocs = roots.map(r => Meta.readStats(r).nDocs).sum
    val nDocs = sumMetaNDocs - (docsAll.distinct().count() - docs.distinct().count())

    IndexBuilder.buildFromTf(spark, tf, nDocs, outRoot, targetBuckets)
  }
}
