package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import graft.util.SmallFiles

/** Targeted ID DELETION from an accrued parquet index — the
  * takedown / right-to-be-forgotten / bad-batch-rollback path every
  * long-lived 100 TB deployment eventually needs (r11 verdict #1: all
  * index families were append-only + compaction, so a single deleted
  * document meant rebuilding the index from the corpus).
  *
  * Works on EVERY index layout this library accrues, because they all
  * share one physical shape — a parquet directory tree partitioned by
  * `batch=<id>` and (for the IVF families) `list=<l>`:
  *
  *  - the streamed IVF index ([[IvfStream.attach]]) of every tier,
  *    float or codes, idCol `vec_id`;
  *  - the persisted batch indexes (pass `<dir>/codes` of the
  *    [[graft.pipeline.Similarity.ivfSqWriteIndex]] /
  *    `ivfBqWriteIndex` / `ivfPqWriteIndex` /
  *    `matryoshkaIvfWriteIndex` layouts), idCol `vec_id`;
  *  - the near-dup band-key index ([[NearDupStream.attach]]), idCol
  *    `doc_id` — deleting a doc removes ALL its band rows;
  *  - the curation fingerprint index ([[CurateStream]]), whose only
  *    column IS the key: pass idCol `fp` and the md5 fingerprints of
  *    the documents to forget (the key type comes from the index, so
  *    string keys delete through the same path as long ids).
  *
  * Cost tracks the DELETED partitions, not the corpus: discovery is
  * one column-pruned scan of (idCol + partition columns) semi-joined
  * with the id set — parquet reads just the id column's bytes — and
  * the rewrite then touches ONLY the leaf partition directories that
  * actually hold a deleted row. Unaffected leaves keep their exact
  * files (spec-pinned byte-identity). A delete set spanning most
  * partitions degenerates to a full rewrite — at that point run
  * [[IvfStream.compactIndex]]-style maintenance instead.
  *
  * Crash discipline (the [[IndexSwap]] markers, one level down): a
  * top-level `<dir>.deleting` marker scopes the run; each affected
  * leaf is replaced with the STANDARD swap protocol (`.swapping` /
  * `.old.complete` markers on the leaf path), so a crash anywhere
  * leaves every leaf either fully old or fully new, and the next read
  * ([[IndexSwap.restoreIfInterrupted]] →
  * [[IndexSwap.healInterruptedDelete]]) walks the marker litter, heals
  * each leaf, and clears the temp tree. Re-running `deleteIds` with
  * the same id set after a heal completes the delete — already-clean
  * leaves are simply no longer affected. Runs while readers and the
  * ingest stream are QUIESCED, like every maintenance helper here.
  */
object IndexDelete {

  /** What a delete did: rows removed, leaf partitions rewritten, and
    * the index's total leaf-partition count (the denominator a
    * deployment alerts on — rewritten/total near 1 means the delete
    * set should have been a compaction). */
  final case class DeleteReport(rowsDeleted: Long,
                                partitionsRewritten: Int,
                                partitionsTotal: Int)

  /** Delete every row whose `idCol` appears in `ids` (a 1-column
    * frame; extra columns are ignored) from the index at `indexDir`.
    * No-op (and no markers) when nothing matches.
    *
    * `maxExactLeafPredicates` bounds the exact affected-leaf OR-chain;
    * past it the scan filter degrades to per-column `isin` sets (a
    * superset of the affected leaves may be READ, but only affected
    * leaves are ever installed — see the rewrite-job comment below). */
  def deleteIds(spark: SparkSession, indexDir: String, ids: DataFrame,
                idCol: String = "vec_id",
                maxExactLeafPredicates: Int = 1000): DeleteReport = {
    IndexSwap.requireLive(spark, indexDir, "IndexDelete.deleteIds")
    IndexManifest.current(spark, indexDir) match {
      case Some(snap) =>
        deleteIdsSnapshot(spark, indexDir, snap, ids, idCol,
          maxExactLeafPredicates)
      case None =>
        deleteIdsInPlace(spark, indexDir, ids, idCol,
          maxExactLeafPredicates)
    }
  }

  /** The documented contract is a 1-column id frame; a multi-column
    * frame is accepted ONLY when it carries a column named idCol (an
    * un-projected (doc_id, vec_id) mapping with the id NOT first used
    * to delete by the wrong column silently, since the cast to the
    * index key type often succeeds — r12 ADVICE). */
  private def idColumnOf(ids: DataFrame, idCol: String): String = {
    require(ids.columns.length == 1 || ids.columns.contains(idCol),
      s"IndexDelete.deleteIds: ids has ${ids.columns.length} columns " +
        s"(${ids.columns.mkString(", ")}) and none is named '$idCol' — " +
        "pass a 1-column id frame, or include the id under the index's " +
        "key column name so the right column is unambiguous")
    if (ids.columns.contains(idCol)) idCol else ids.columns.head
  }

  /** Balanced OR/AND trees: a linear `reduce` nests 500 predicates
    * 500 levels deep and overflows the analyzer's recursion (measured
    * in the r13 1M-scale probe at ~500 leaves); a balanced tree is
    * log₂-deep, so the exact-predicate regime actually reaches the
    * documented maxExactLeafPredicates bound. */
  private def balanced(cs: IndexedSeq[org.apache.spark.sql.Column],
                       op: (org.apache.spark.sql.Column,
                            org.apache.spark.sql.Column)
                         => org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    if (cs.length == 1) cs(0)
    else balanced(cs.grouped(2).map(g =>
      if (g.length == 2) op(g(0), g(1)) else g(0)).toIndexedSeq, op)

  private def balancedOr(cs: Seq[org.apache.spark.sql.Column]) =
    balanced(cs.toIndexedSeq, _ || _)

  private def balancedAnd(cs: Seq[org.apache.spark.sql.Column]) =
    balanced(cs.toIndexedSeq, _ && _)

  private def deleteIdsInPlace(spark: SparkSession, indexDir: String,
                               ids: DataFrame, idCol: String,
                               maxExactLeafPredicates: Int): DeleteReport = {
    val live = new Path(indexDir)
    val fs = SmallFiles.fsOf(spark, live)

    val df = spark.read.parquet(indexDir)
    val idColIn = idColumnOf(ids, idCol)
    // key type comes from the INDEX, so a long-keyed vector index and
    // a string-keyed fingerprint index (CurateStream's fp column)
    // both delete through the one code path
    val idsN = ids
      .select(col(idColIn).cast(df.schema(idCol).dataType)
        .as("_del_id"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    idsN.count() // one materialization serves discovery + every leaf
    // the two partition columns every accrued layout uses, in their
    // directory-nesting order (batch above list)
    val partCols = Seq("batch", "list").filter(df.columns.contains)
    require(partCols.nonEmpty,
      s"IndexDelete.deleteIds: $indexDir has neither a batch= nor a " +
        "list= partition level — not an accrued index layout (a flat " +
        "directory would need a full rewrite; use the compaction path)")

    // discovery: which leaf partitions hold a deleted row, and how
    // many rows each loses. Column-pruned to (idCol, partition cols);
    // the collect is bounded by the partition count, never the corpus.
    val affected = df.select((partCols :+ idCol).map(col): _*)
      .join(idsN, col(idCol) === col("_del_id"), "left_semi")
      .groupBy(partCols.map(col): _*)
      .agg(count(lit(1)).as("_n"))
      .collect()
    // the report denominator comes from a directory LISTING, not a
    // second full data scan (r13g: the distinct-over-the-corpus query
    // was a third of the in-place delete's wall at 1M×2048 leaves —
    // the leaf directories ARE the partitions)
    val totalParts = IndexManifest.listLeafDirs(spark, indexDir).size
    if (affected.isEmpty) {
      idsN.unpersist()
      return DeleteReport(0L, 0, totalParts)
    }

    def leafRel(r: org.apache.spark.sql.Row): String =
      partCols.indices.map(i => s"${partCols(i)}=${r.get(i)}").mkString("/")

    val deleting = new Path(indexDir + ".deleting")
    val tmpRoot = indexDir + ".delete"
    SmallFiles.touch(fs, deleting)
    // ONE partition-pruned job writes every affected leaf's survivors
    // into the temp tree (r12 probe: per-leaf jobs cost ~0.25 s of
    // driver latency EACH, so a spread delete paid N job walls — one
    // scan-and-write job pays one). The affected-leaf predicate is an
    // OR-chain of partition-column equalities, so the scan carries
    // PartitionFilters and reads only the affected leaves' bytes.
    // Past `maxExactLeafPredicates` leaves the OR-chain itself would
    // strain the analyzer, so the filter degrades to per-column isin
    // sets — a SUPERSET of the affected leaves may be read and
    // written into the temp tree, but only the affected leaves are
    // ever INSTALLED, so the byte-identity contract for untouched
    // leaves holds in both regimes.
    val leafPred =
      if (affected.length <= maxExactLeafPredicates)
        balancedOr(affected.toIndexedSeq.map { r =>
          balancedAnd(partCols.indices
            .map(i => col(partCols(i)) === lit(r.get(i))))
        })
      else
        balancedAnd(partCols.indices.map { i =>
          col(partCols(i)).isin(affected.map(_.get(i)).distinct: _*)
        })
    spark.read.option("basePath", indexDir).parquet(indexDir)
      .filter(leafPred)
      .join(idsN, col(idCol) === col("_del_id"), "left_anti")
      .write.partitionBy(partCols: _*).mode("overwrite").parquet(tmpRoot)
    var rows = 0L
    affected.foreach { r =>
      val rel = leafRel(r)
      val leafTmpP = new Path(s"$tmpRoot/$rel")
      // a leaf whose every row is deleted produces no partition dir in
      // the dynamic write — its replacement is an EMPTY directory
      SmallFiles.mkdirs(fs, leafTmpP)
      // install each replacement under the standard marker protocol:
      // a crash between any leaf's renames heals on the next read
      IndexSwap.swap(spark, s"$indexDir/$rel", s"$tmpRoot/$rel")
      rows += r.getLong(partCols.length)
    }
    val tmpRootP = new Path(tmpRoot)
    if (fs.exists(tmpRootP)) { fs.delete(tmpRootP, true); () }
    fs.delete(deleting, false)
    idsN.unpersist()
    DeleteReport(rows, affected.length, totalParts)
  }

  /** The MANIFESTED route ([[IndexManifest]], r12 verdict #1): the
    * same discovery + one partition-pruned survivors job, but
    * copy-on-write — survivors land in a fresh
    * `batch=<snap.rewriteBatchId>` tree, the commit retires exactly
    * the leaves the scan consumed, and the retired leaf directories
    * STAY on disk untouched, so a probe pinned to the pre-delete
    * snapshot keeps reading byte-stable data while this runs (reclaim
    * later with [[IndexManifest.vacuum]]). No marker files: the
    * manifest commit IS the atomic install, a crash before it leaves
    * an orphan directory no reader sees, and a re-run overwrites the
    * orphan (the rewrite batch id is a function of the unchanged
    * generation).
    *
    * Past `maxExactLeafPredicates` the scan filter degrades to
    * per-column isin sets exactly as in the in-place route; the
    * SUPERSET of leaves it reads is then also the set the commit
    * retires (their rows — deleted ids excepted — were all rewritten
    * into the new batch), so the live row set is identical in both
    * regimes. */
  private def deleteIdsSnapshot(spark: SparkSession, indexDir: String,
                                snap: IndexManifest.Snapshot,
                                ids: DataFrame, idCol: String,
                                maxExactLeafPredicates: Int)
      : DeleteReport = {
    val df = IndexManifest.readSnapshot(spark, indexDir, snap)
      .getOrElse(return DeleteReport(0L, 0, 0))
    val idColIn = idColumnOf(ids, idCol)
    val idsN = ids
      .select(col(idColIn).cast(df.schema(idCol).dataType).as("_del_id"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    idsN.count()
    val partCols = Seq("batch", "list").filter(df.columns.contains)
    require(partCols.nonEmpty,
      s"IndexDelete.deleteIds: $indexDir has neither a batch= nor a " +
        "list= partition level — not an accrued index layout (a flat " +
        "directory would need a full rewrite; use the compaction path)")
    val affected = df.select((partCols :+ idCol).map(col): _*)
      .join(idsN, col(idCol) === col("_del_id"), "left_semi")
      .groupBy(partCols.map(col): _*)
      .agg(count(lit(1)).as("_n"))
      .collect()
    if (affected.isEmpty) {
      idsN.unpersist()
      return DeleteReport(0L, 0, snap.leaves.size)
    }
    def leafRel(r: org.apache.spark.sql.Row): String =
      partCols.indices.map(i => s"${partCols(i)}=${r.get(i)}").mkString("/")
    // the predicate the survivors scan carries, and — the manifest
    // twin of "only affected leaves are installed" — the EXACT set of
    // leaves the commit must retire: every leaf the scan reads is
    // rewritten into the new batch, so retiring fewer would duplicate
    // rows and retiring more would lose them
    val (leafPred, replaced) =
      if (affected.length <= maxExactLeafPredicates)
        (balancedOr(affected.toIndexedSeq.map { r =>
          balancedAnd(partCols.indices
            .map(i => col(partCols(i)) === lit(r.get(i))))
        }),
          affected.map(leafRel).toSeq)
      else {
        val valSets = partCols.indices
          .map(i => affected.map(_.get(i).toString).distinct.toSet)
        (balancedAnd(partCols.indices.map { i =>
          col(partCols(i)).isin(affected.map(_.get(i)).distinct: _*)
        }),
          snap.leaves.filter { leaf =>
            val vals = leaf.split("/").map(_.split("=", 2)(1))
            vals.length == partCols.length &&
              vals.indices.forall(i => valSets(i).contains(vals(i)))
          })
      }
    val survivors = df.filter(leafPred)
      .join(idsN, col(idCol) === col("_del_id"), "left_anti")
      .drop("batch")
    val target = s"$indexDir/batch=${snap.rewriteBatchId}"
    if (partCols.contains("list"))
      survivors.write.partitionBy("list").mode("overwrite").parquet(target)
    else
      survivors.write.mode("overwrite").parquet(target)
    IndexManifest.commitRewrite(spark, indexDir, snap, replaced)
    idsN.unpersist()
    DeleteReport(affected.map(_.getLong(partCols.length)).sum,
      affected.length, snap.leaves.size)
  }

  /** [[deleteIds]] for a driver-side id set. */
  def deleteIds(spark: SparkSession, indexDir: String, ids: Seq[Long],
                idCol: String): DeleteReport = {
    import spark.implicits._
    deleteIds(spark, indexDir, ids.toDF("_del_id"), idCol)
  }

  /** Document-level takedown across EVERY index a doc leaves traces
    * in — the "forget these documents" composition a
    * right-to-be-forgotten request actually needs: the curation
    * fingerprint index keys on `md5(text)`, the near-dup band index
    * on `doc_id`, and the EMBEDDING-side indexes (streamed IVF
    * float/SQ8/BQ/PQ directories, persisted `<dir>/codes` layouts) on
    * `vec_id` — reached through the pipeline's doc→vec mapping
    * (`docVec`: a (idCol, vecIdCol) frame; a doc may map to MANY
    * vectors — chunk/passage embeddings — and every one is swept).
    * Each present index gets its own [[deleteIds]] (same
    * partition-scoped rewrite, same crash discipline). Returns one
    * report per swept index: "fp", "band", and "vec:<dir>" keys. */
  def forgetDocs(spark: SparkSession, docs: DataFrame,
                 fpIndexDir: Option[String] = None,
                 bandIndexDir: Option[String] = None,
                 idCol: String = "doc_id",
                 textCol: String = "text",
                 vecIndexDirs: Seq[String] = Seq.empty,
                 docVec: Option[DataFrame] = None,
                 vecIdCol: String = "vec_id"): Map[String, DeleteReport] = {
    require(vecIndexDirs.isEmpty || docVec.nonEmpty,
      "forgetDocs: vecIndexDirs given without a docVec mapping — the " +
        "embedding indexes key on vec_id, so sweeping them needs the " +
        s"pipeline's ($idCol, $vecIdCol) frame")
    val out = Map.newBuilder[String, DeleteReport]
    fpIndexDir.foreach { d =>
      out += "fp" -> deleteIds(spark, d,
        docs.select(md5(col(textCol)).as("fp")), "fp")
    }
    bandIndexDir.foreach { d =>
      out += "band" -> deleteIds(spark, d, docs.select(col(idCol)), idCol)
    }
    if (vecIndexDirs.nonEmpty) {
      val vecIds = docVec.get
        .join(docs.select(col(idCol)), Seq(idCol), "left_semi")
        .select(col(vecIdCol))
      vecIndexDirs.foreach { d =>
        out += s"vec:$d" -> deleteIds(spark, d, vecIds, vecIdCol)
      }
    }
    out.result()
  }
}
