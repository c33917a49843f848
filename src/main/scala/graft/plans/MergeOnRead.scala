package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Merge-on-read live-row assembly — the heart of the engine.
  *
  * Re-expresses the reference's single generated query
  * (`build_merge_on_read_sql`,
  * core/src/executor/datafusion/datafusion_processor.rs:238-399) as
  * declarative DataFrame combinators, letting Catalyst pick the physical
  * join strategy (broadcast-hash anti-join for small delete sides, shuffled
  * hash / sort-merge otherwise, AQE re-planning at runtime):
  *
  *  1. remove rows position-deleted: anti-join on
  *     (sys_hidden_file_path, sys_hidden_pos)              [J1]
  *  2. for each equality-delete table, in file order: anti-join on the
  *     equality columns AND data.seq < delete.seq          [J2]
  *  3. project away the hidden columns                     [P3]
  *
  * Scale notes (100 TB design):
  *  - delete files are normally orders of magnitude smaller than data, so
  *    each anti-join should broadcast the delete side — the builder applies
  *    an explicit `broadcast()` hint when the caller marks a delete table
  *    small (e.g. total delete-file bytes under the broadcast threshold);
  *    otherwise it is left to AQE's runtime shuffle→broadcast conversion.
  *  - the data side is never shuffled by a broadcast anti-join, so the
  *    chain runs in ONE stage fused by whole-stage codegen over the scan.
  *  - the equality join keys come from the delete file's `equality_ids`;
  *    an empty key list degenerates to "seq-only" — delete all older rows
  *    (reference edge case, datafusion_processor.rs:371-375).
  */
object MergeOnRead {

  /** Hidden system columns (reference constants,
    * core/src/executor/datafusion/datafusion_processor.rs:41-45). */
  val SysHiddenSeqNum = "sys_hidden_seq_num"
  val SysHiddenFilePath = "sys_hidden_file_path"
  val SysHiddenPos = "sys_hidden_pos"
  val HiddenCols: Seq[String] = Seq(SysHiddenSeqNum, SysHiddenFilePath, SysHiddenPos)

  /** One registered equality-delete table: rows carry the equality-key
    * columns plus `sys_hidden_seq_num`. `broadcastHint` marks the table
    * small enough to broadcast (planner decides from delete-file bytes). */
  final case class EqDeleteTable(
      df: DataFrame,
      equalityIds: Seq[String],
      broadcastHint: Boolean = true
  )

  /** Compute the surviving ("live") rows of a merge-on-read scan.
    *
    * @param data        data rows; must carry `projectCols`, plus
    *                    `sys_hidden_file_path`/`sys_hidden_pos` when
    *                    `posDeletes` is given, plus `sys_hidden_seq_num`
    *                    when `eqDeletes` is non-empty.
    * @param projectCols user columns to keep in the result
    * @param posDeletes  position-delete rows under the hidden names
    * @param eqDeletes   equality-delete tables, applied in file order
    */
  def liveRows(
      data: DataFrame,
      projectCols: Seq[String],
      posDeletes: Option[DataFrame] = None,
      eqDeletes: Seq[EqDeleteTable] = Nil,
      broadcastPosDeletes: Boolean = true
  ): DataFrame = {
    val afterPos = posDeletes.fold(data) { pd =>
      val right = if (broadcastPosDeletes) broadcast(pd) else pd
      data.join(right, Seq(SysHiddenFilePath, SysHiddenPos), "left_anti")
    }
    val afterEq = eqDeletes.foldLeft(afterPos) { (acc, eq) =>
      val d = acc.as("d")
      val del0 = eq.df.as("del")
      val del = if (eq.broadcastHint) broadcast(del0) else del0
      val eqCond = eq.equalityIds
        .map(c => col(s"del.$c") === col(s"d.$c"))
        .reduceOption(_ && _)
      val seqCond: Column =
        col(s"d.$SysHiddenSeqNum") < col(s"del.$SysHiddenSeqNum")
      val cond = eqCond.fold(seqCond)(_ && seqCond)
      d.join(del, cond, "left_anti")
    }
    afterEq.select(projectCols.map(col): _*)
  }
}
