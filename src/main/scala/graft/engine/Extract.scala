package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S4 — table reconstruction from recorded Textract-style block JSON
  * (ref `src/etl/ingest_harvest_data.py:177-222`,
  * `src/etl/ingest_population_data.py:128-163`).
  *
  * The reference builds an in-memory `Id→Text` dict from WORD blocks, then for
  * each CELL block joins its CHILD word ids, producing a `{row:{col:text}}`
  * grid densified to `List[List[str]]`, with multi-page tables concatenated
  * under a running row offset.  Re-expressed relationally:
  *
  *   CELL blocks (CHILD ids exploded) ⋈ WORD blocks — a left join on word
  *       id across the whole document (WORD blocks carry no page)
  *   → ONE groupBy(page,row): `struct(column, word_pos, word)` parts plus
  *       max(column)
  *   → localCheckpoint: the grid is materialized once, on the executors
  *   → ONE #pages-row collect: per-page row counts and the table-global
  *       width
  *   → cells 1..width: the row's parts filtered to each column, sorted by
  *       word_pos, words joined with " " ("" for an absent cell)
  *   → global row numbers: per-page window plus broadcast page offsets
  *
  * Everything is shuffled by (page,row) keys — no driver-side dict, so a
  * million-page corpus distributes; the driver holds #pages rows.  The
  * returned frame reads only the materialized grid, so every action on it
  * (a header probe, then a write) skips the block parse, join and shuffle;
  * Spark's ContextCleaner frees the checkpoint blocks once the frame is
  * unreachable.  The reference's population path forgot `NextToken`
  * pagination (`ingest_population_data.py:125`, truncation bug); a
  * recorded-block source has no such failure mode (SURVEY §7.4.4).
  *
  * Side-effectful Textract calls stay OUT of the engine (network boundary —
  * SURVEY §7.4.5); the engine consumes recorded block JSON, deterministic and
  * testable.
  */
object Extract {

  /** Expected block schema (FIXTURES.md §A4). */
  val blockSchema = "Id STRING, BlockType STRING, Text STRING, Page INT, " +
    "RowIndex INT, ColumnIndex INT, " +
    "Relationships ARRAY<STRUCT<Type: STRING, Ids: ARRAY<STRING>>>"

  def parseBlocks(spark: SparkSession, jsonPath: String): DataFrame =
    spark.read.schema(blockSchema).json(jsonPath)

  /** Blocks → sparse cell grid: one row per (page, row) carrying
    * `parts ARRAY<STRUCT<column, word_pos, word>>` (one entry per CHILD id;
    * a cell with no children or a dangling id contributes a NULL word) and
    * `width`, the row's largest column index. */
  def reconstructCells(blocks: DataFrame): DataFrame = {
    val words = blocks.filter(col("BlockType") === "WORD").select(
      col("Id").as("word_id"), col("Text").as("word"))
    val cellChildren = blocks.filter(col("BlockType") === "CELL")
      .select(col("Page").as("page"), col("RowIndex").as("row"),
        col("ColumnIndex").as("column"),
        posexplode_outer(flatten(filter(col("Relationships"),
          r => r.getField("Type") === "CHILD").getField("Ids"))))
      .withColumnRenamed("pos", "word_pos").withColumnRenamed("col", "word_id")
    cellChildren
      .join(words, cellChildren("word_id") === words("word_id"), "left")
      .groupBy("page", "row")
      .agg(collect_list(struct(col("column"), col("word_pos"), col("word"))).as("parts"),
        max("column").as("width"))
  }

  /** Dense `cells` of a [[reconstructCells]] row: columns 1..`width`, each
    * its words in CHILD order joined by " " (NULL words skipped), "" for a
    * column the row lacks. */
  private def denseCells(width: Column): Column =
    transform(sequence(lit(1), width), i => array_join(transform(
      array_sort(filter(col("parts"), p => p.getField("column") === i)),
      p => p.getField("word")), " "))

  /** Full S4: blocks → ordered dense grid `(global_row, page, row, cells)`,
    * multi-page tables concatenated with running row offsets
    * (ref `ingest_harvest_data.py:188-209`, two-stage numbering as in
    * [[Relational.withGlobalRowOffsets]]).  Eager: materializes the grid and
    * collects one row per page. */
  def reconstructTable(blocks: DataFrame): DataFrame = {
    val grid = reconstructCells(blocks).localCheckpoint()
    val pages = grid.groupBy("page").agg(count(lit(1)), max("width"))
      .orderBy("page").collect()
    // table-global width; NULL when no cell carries a column index
    val widths = pages.flatMap(r => Option(r.getAs[Integer](2))).map(_.intValue)
    val width = if (widths.isEmpty) lit(null).cast("int") else lit(widths.max)
    Relational.withPageOffsets(grid, "page", "row",
        pages.map(r => r.get(0) -> r.getLong(1)).toSeq)
      .select(col("global_row"), col("page"), col("row"), denseCells(width).as("cells"))
  }
}
