package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.engine.Extract

/** S4 — Textract block→table reconstruction against a handcrafted recorded
  * fixture (FIXTURES.md §A4): multi-page offsets, multi-word cells, missing
  * cells densified to "", empty input. */
class ExtractSpec extends SparkFunSuite {

  private val schema = StructType(Seq(
    StructField("Id", StringType), StructField("BlockType", StringType),
    StructField("Text", StringType), StructField("Page", IntegerType),
    StructField("RowIndex", IntegerType), StructField("ColumnIndex", IntegerType),
    StructField("Relationships", ArrayType(StructType(Seq(
      StructField("Type", StringType),
      StructField("Ids", ArrayType(StringType))))))))

  private def word(id: String, text: String): Row =
    Row(id, "WORD", text, null, null, null, null)
  private def cell(id: String, page: Int, row: Int, col: Int, childIds: Seq[String]): Row =
    Row(id, "CELL", null, page, row, col,
      if (childIds == null) null else Seq(Row("CHILD", childIds)))

  private def df(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  test("cells join CHILD words in order, missing cells densify to empty string") {
    val blocks = df(Seq(
      word("w1", "Unit"), word("w2", "7"), word("w3", "Total"), word("w4", "Harvest"),
      cell("c1", 1, 1, 1, Seq("w3", "w4")),   // "Total Harvest" (two words)
      cell("c2", 1, 1, 2, Seq("w1")),
      cell("c3", 1, 2, 1, Seq("w2"))          // row 2 has no col 2 → ""
    ))
    val grid = Extract.reconstructTable(blocks).orderBy("global_row").collect()
    assert(grid.length === 2)
    assert(grid(0).getAs[Seq[String]]("cells") === Seq("Total Harvest", "Unit"))
    assert(grid(1).getAs[Seq[String]]("cells") === Seq("7", ""))
  }

  test("multi-page tables concatenate with running row offsets (page order)") {
    val blocks = df(Seq(
      word("a", "p1r1"), word("b", "p1r2"), word("c", "p2r1"),
      cell("c1", 1, 1, 1, Seq("a")), cell("c2", 1, 2, 1, Seq("b")),
      cell("c3", 2, 1, 1, Seq("c"))
    ))
    val grid = Extract.reconstructTable(blocks).orderBy("global_row").collect()
    assert(grid.map(_.getAs[Long]("global_row")).toSeq === Seq(1L, 2L, 3L))
    assert(grid.map(_.getAs[Seq[String]]("cells").head).toSeq === Seq("p1r1", "p1r2", "p2r1"))
    assert(grid.map(r => (r.getAs[Int]("page"), r.getAs[Int]("row"))).toSeq
      === Seq((1, 1), (1, 2), (2, 1)))
  }

  test("cell with no CHILD relationship yields empty text") {
    val blocks = df(Seq(word("w", "x"), cell("c1", 1, 1, 1, null), cell("c2", 1, 1, 2, Seq("w"))))
    val grid = Extract.reconstructTable(blocks).collect()
    assert(grid.head.getAs[Seq[String]]("cells") === Seq("", "x"))
  }

  test("empty blocks input yields zero rows (no NPE from the densify width)") {
    assert(Extract.reconstructTable(df(Nil)).count() === 0)
  }

  test("parseBlocks reads recorded Textract JSON and reconstructs the grid") {
    val dir = java.nio.file.Files.createTempDirectory("blocks_json")
    val json = Seq(
      """{"Id":"w1","BlockType":"WORD","Text":"Unit"}""",
      """{"Id":"w2","BlockType":"WORD","Text":"12"}""",
      """{"Id":"c1","BlockType":"CELL","Page":1,"RowIndex":1,"ColumnIndex":1,"Relationships":[{"Type":"CHILD","Ids":["w1"]}]}""",
      """{"Id":"c2","BlockType":"CELL","Page":1,"RowIndex":1,"ColumnIndex":2,"Relationships":[{"Type":"CHILD","Ids":["w2"]}]}""")
    java.nio.file.Files.write(dir.resolve("blocks.json"),
      json.mkString("\n").getBytes("UTF-8"))
    val blocks = Extract.parseBlocks(spark, dir.toString)
    val grid = Extract.reconstructTable(blocks).collect()
    assert(grid.length === 1)
    assert(grid.head.getAs[Seq[String]]("cells") === Seq("Unit", "12"))
  }

  test("unknown child ids resolve to empty words (left join, not inner)") {
    val blocks = df(Seq(cell("c1", 1, 1, 1, Seq("missing_word"))))
    val grid = Extract.reconstructTable(blocks).collect()
    assert(grid.length === 1) // the cell survives even with an unresolvable child
  }

  test("reconstructTable reads its blocks once: later actions never rescan the source") {
    val dir = java.nio.file.Files.createTempDirectory("blocks_once")
    val json = Seq(
      """{"Id":"w1","BlockType":"WORD","Text":"Unit"}""",
      """{"Id":"w2","BlockType":"WORD","Text":"12"}""",
      """{"Id":"w3","BlockType":"WORD","Text":"7"}""",
      """{"Id":"c1","BlockType":"CELL","Page":1,"RowIndex":1,"ColumnIndex":1,"Relationships":[{"Type":"CHILD","Ids":["w1"]}]}""",
      """{"Id":"c2","BlockType":"CELL","Page":1,"RowIndex":1,"ColumnIndex":2,"Relationships":[{"Type":"CHILD","Ids":["w2"]}]}""",
      """{"Id":"c3","BlockType":"CELL","Page":2,"RowIndex":1,"ColumnIndex":1,"Relationships":[{"Type":"CHILD","Ids":["w3"]}]}""")
    val file = dir.resolve("blocks.json")
    java.nio.file.Files.write(file, json.mkString("\n").getBytes("UTF-8"))
    val t = Extract.reconstructTable(Extract.parseBlocks(spark, dir.toString))
    assert(t.inputFiles.isEmpty, s"returned frame still reads ${t.inputFiles.toSeq}")
    val scans = t.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.isEmpty, s"returned frame plans a block scan: $scans")
    // with the source gone, any job that re-read the blocks would fail
    java.nio.file.Files.delete(file)
    java.nio.file.Files.delete(dir)
    import org.apache.spark.sql.functions.col
    assert(t.filter(col("global_row") === 1).select("cells").head().getSeq[String](0)
      === Seq("Unit", "12"))
    val out = java.nio.file.Files.createTempDirectory("grid_out").resolve("grid").toString
    t.write.parquet(out)
    assert(spark.read.parquet(out).orderBy("global_row").collect()
      .map(r => r.getSeq[String](r.fieldIndex("cells")).toSeq).toSeq
      === Seq(Seq("Unit", "12"), Seq("7", "")))
  }
}
