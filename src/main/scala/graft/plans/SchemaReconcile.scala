package graft.plans

import graft.core._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Field-id schema reconciliation for tables WITH a schema history: a
  * file written under an older schema is read under its physical names
  * and projected onto the CURRENT schema by field id.
  *
  *  - rename: old files are read under their physical name and aliased
  *    to the current one (a projection — stays in whole-stage codegen,
  *    pushes scans' column pruning to the OLD names automatically);
  *  - add: files predating the column scan without it and null-fill via
  *    a literal (constant-folded);
  *  - drop: dropped ids are simply not projected.
  *
  * The live-row builder
  * ([[graft.compaction.SparkCompactionExecutor.liveRows]]) applies it
  * per physical layout and translates equality-delete keys id-wise.
  */
object SchemaReconcile {

  /** True when assembling live rows for `snap` requires id-wise
    * reconciliation (any live file written under a non-current schema). */
  def needed(schemas: Seq[TableSchema], currentSchemaId: Long,
      tasks: InputFileScanTasks): Boolean =
    schemas.nonEmpty &&
      (tasks.dataFiles ++ tasks.equalityDeleteFiles)
        .exists(t => t.schemaId >= 0 && t.schemaId != currentSchemaId)

  /** Project a frame read under `from` onto `to`, by field id; hidden
    * MoR columns ride along untouched. A column the file predates fills
    * its frozen initial-DEFAULT when one exists (constant-folded
    * literal — canonical text from [[graft.core.ColumnDefaults]]),
    * null otherwise. */
  def project(df: DataFrame, from: TableSchema, to: TableSchema): DataFrame = {
    val oldById = from.fieldById
    val cols: Seq[Column] = to.fields.map { f =>
      oldById.get(f.id) match {
        case Some(o) => col(o.name).cast(f.dataType).as(f.name)
        case None    => f.initialDefault
          .map(t => expr(t).cast(f.dataType))
          .getOrElse(lit(null).cast(f.dataType)).as(f.name)
      }
    }
    val hidden = df.columns.filter(MergeOnRead.HiddenCols.contains).map(col).toSeq
    df.select(cols ++ hidden: _*)
  }
}
