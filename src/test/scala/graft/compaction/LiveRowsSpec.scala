package graft.compaction

import graft.SparkTestSession
import graft.core._
import graft.sources.{ScanPlanner, TableReader}
import graft.txn.{FileTableCatalog, SchemaEvolution, SchemaOp, TableSnapshot, TableWrites}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The one live-row builder ([[SparkCompactionExecutor.liveRows]]) over
  * evolved and history-less tables: id-wise reconciliation of data
  * layouts and equality-delete keys, consecutive-run delete tables, and
  * an unchanged plan when nothing needs reconciling. */
class LiveRowsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** ids 1-6 under (id, name, score); a delete keyed on `name` (kills
    * 2); rename name -> label; a delete keyed on `label` (kills 4); add
    * `tag`, drop `score`; append id 7 under the current layout. */
  private def evolvedTable(): String = {
    val dir = Files.createTempDirectory("graft-liverows-evo").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    TableWrites.appendData(dir,
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L),
        (4L, "d", 40L), (5L, "e", 50L), (6L, "f", 60L))
        .toDF("id", "name", "score").coalesce(1))
    TableWrites.appendEqualityDeletes(dir, Seq(Tuple1("b")).toDF("name"), Seq("name"))
    SchemaEvolution.evolve(dir, Seq(SchemaOp.Rename("name", "label")))
    TableWrites.appendEqualityDeletes(dir, Seq(Tuple1("d")).toDF("label"), Seq("label"))
    SchemaEvolution.evolve(dir, Seq(SchemaOp.Add("tag", "string"), SchemaOp.Drop("score")))
    TableWrites.appendData(dir,
      Seq((7L, "g", "t7")).toDF("id", "label", "tag").coalesce(1))
    dir
  }

  private val expected = Seq(
    (1L, "a", None), (3L, "c", None), (5L, "e", None), (6L, "f", None),
    (7L, "g", Some("t7")))

  private def rows(df: DataFrame): Seq[(Long, String, Option[String])] = {
    assert(df.columns.toSeq == Seq("id", "label", "tag"))
    df.orderBy("id").collect().toSeq.map(r =>
      (r.getLong(0), r.getString(1), Option(r.getString(2))))
  }

  private def tasksOf(snap: TableSnapshot): InputFileScanTasks =
    ScanPlanner.toInputTasks(snap.files.map(_.toTask))

  private def antiJoins(plan: LogicalPlan): Seq[Join] =
    plan.collect { case j: Join if j.joinType == LeftAnti => j }

  test("evolved table: TableReader.read and compaction return the reconciled live rows") {
    val dir = evolvedTable()
    assert(rows(TableReader.read(spark, dir)) == expected)
    new Compaction(spark, dir,
      CompactionConfig(targetPartitions = 1, enableValidateCompaction = true)).compact()
    val snap = FileTableCatalog.loadOrThrow(dir)
    assert(snap.files.forall(_.content == "data"))
    assert(snap.files.forall(_.schemaId == snap.schemaId))
    assert(rows(TableReader.read(spark, dir)) == expected)
  }

  test("deletes keyed on a field's old and new name form one delete run") {
    val snap = FileTableCatalog.loadOrThrow(evolvedTable())
    val tasks = tasksOf(snap)
    assert(tasks.equalityDeleteFiles.map(_.equalityIds) == Seq(Seq("name"), Seq("label")))
    val live = SparkCompactionExecutor.liveRows(spark, tasks,
      schemas = snap.schemas, currentSchemaId = snap.schemaId)
    // one delete table as built...
    assert(antiJoins(live.queryExecution.analyzed).size == 1,
      live.queryExecution.analyzed.toString)
    // ...which the optimizer pushes into each data layout's branch of
    // the union: every anti-join reads both delete files
    val optimized = live.queryExecution.optimizedPlan
    assert(antiJoins(optimized).nonEmpty && antiJoins(optimized).forall(
      _.right.collect { case r: LogicalRelation => r }.size == 2), optimized.toString)
    assert(rows(live) == expected)
  }

  test("a delete keyed on a dropped column fails with a config error") {
    val snap = FileTableCatalog.loadOrThrow(evolvedTable())
    // the catalog refuses to drop a live delete key, so the history that
    // drops one is built by hand: the current schema minus `label`
    val current = snap.schemas.find(_.schemaId == snap.schemaId).get
    val dropped = TableSchema(snap.schemaId + 1, current.fields.filterNot(_.name == "label"))
    val e = intercept[CompactionError.Config] {
      SparkCompactionExecutor.liveRows(spark, tasksOf(snap),
        schemas = snap.schemas :+ dropped, currentSchemaId = dropped.schemaId)
    }
    assert(e.getMessage.contains("dropped"), e.getMessage)
  }

  test("a table without evolution plans one data scan and one anti-join per delete run") {
    val dir = Files.createTempDirectory("graft-liverows-flat").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    TableWrites.appendData(dir,
      (1L to 10L).map(i => (i, s"v$i")).toDF("id", "name").coalesce(1))
    TableWrites.appendData(dir,
      (11L to 20L).map(i => (i, s"v$i")).toDF("id", "name").coalesce(1))
    // two consecutive id-keyed deletes (one run), then a name-keyed one
    TableWrites.appendEqualityDeletes(dir, Seq(2L, 12L).toDF("id"), Seq("id"))
    TableWrites.appendEqualityDeletes(dir, Seq(3L).toDF("id"), Seq("id"))
    TableWrites.appendEqualityDeletes(dir, Seq("v5").toDF("name"), Seq("name"))
    val firstFile = FileTableCatalog.loadOrThrow(dir).files
      .filter(_.content == "data").minBy(_.sequenceNumber).path
    TableWrites.appendPositionDeletes(dir, Seq((firstFile, 0L)).toDF("file_path", "pos"))

    val snap = FileTableCatalog.loadOrThrow(dir)
    val live = SparkCompactionExecutor.liveRows(spark, tasksOf(snap),
      schemas = snap.schemas, currentSchemaId = snap.schemaId)
    val plan = live.queryExecution.optimizedPlan
    val dataScans = plan.collect {
      case r: LogicalRelation if r.output.exists(_.name == "name") &&
        r.output.exists(_.name == "id") => r
    }
    assert(dataScans.size == 1, plan.toString)
    // the position-delete anti-join plus one per equality run
    assert(antiJoins(plan).size == 3, plan.toString)
    assert(live.columns.toSeq == Seq("id", "name"))
    assert(live.select("id").as[Long].collect().sorted.toSeq ==
      ((4L to 20L).filterNot(Set(5L, 12L))))
  }
}
