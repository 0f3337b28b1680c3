package graft.recipe

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Type inference has two implementations: the one-partition layout
  * classifies collected rows on the driver, the distributed layout sums
  * the same classes in one aggregation job. Both must reach the same
  * verdicts on every string column. Seeded random columns mix the cells
  * where number parsers disagree (empty and whitespace cells, special
  * literals, hex and suffixed floats, signs, padding) with nulls, all-null
  * columns and plain text. */
class InferenceLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val cols = (0 until 5).map(i => s"c$i")

  /** Cell pools: integral, castable non-integral, not castable. */
  private val integral = Seq("0", "7", "-12", "+7", " 7 ", "0042", "-0")
  private val decimal = Seq("1e5", "0x1p1", "1.5f", "3.25", ".5", "5.", "-0.0", "inf", "-inf",
    "NaN", "nan", "+Infinity", "Infinity", "1E-3", " 2.5 ")
  private val text = Seq("", " ", "\t", "abc", "12ab3", "1e", "Infinityx", "+", "-", "0x", "n/a")

  /** `rows` random cells per column; each column draws from a kind
    * picked per column, so all-castable, all-null and mixed columns all
    * occur. */
  private def randomCells(rnd: scala.util.Random, rows: Int): Seq[Seq[String]] = {
    val kinds = cols.map(_ => rnd.nextInt(6))
    (0 until rows).map { _ =>
      kinds.map { k =>
        def pick(pool: Seq[String]) = pool(rnd.nextInt(pool.size))
        val nullP = if (k == 5) 1.0 else if (rnd.nextBoolean()) 0.0 else 0.2
        if (rnd.nextDouble() < nullP) null
        else k match {
          case 0 => pick(integral)
          case 1 => pick(integral ++ decimal)
          case 2 => pick(decimal)
          case 3 => pick(integral ++ decimal ++ text)
          case _ => if (rnd.nextInt(8) == 0) pick(text) else pick(integral ++ decimal)
        }
      }
    }
  }

  private def frame(cells: Seq[Seq[String]]): DataFrame =
    spark.createDataFrame(cells.map(Row.fromSeq).asJava,
      StructType(cols.map(StructField(_, StringType))))

  private def recipe(path: Path): String =
    s"""input:
       |  path: "$path"
       |aggregation: mean
       |axis: [${cols.mkString(", ")}]
       |""".stripMargin

  /** CSV of `cells`: every cell quoted, a null cell left empty. */
  private def csv(cells: Seq[Seq[String]]): String =
    (cols.mkString(",") +: cells.map(_.map(c => if (c == null) "" else "\"" + c + "\"")
      .mkString(","))).mkString("", "\n", "\n")

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Two benchmarks of one recipe over a small file: `driver` evaluated
    * from the file (one-partition layout), `aggregate` from an outside
    * frame (distributed layout). */
  private def layouts(dir: Path): (Benchmark, Benchmark) = {
    val file = dir.resolve("cells.csv")
    Files.writeString(file, csv(randomCells(new scala.util.Random(1L), 12)))
    val driver = Benchmark.fromString(spark, recipe(file), dir.toString)
    val aggregate = Benchmark.fromString(spark, recipe(file), dir.toString)
    driver.getNormalizedData()
    aggregate.getNormalizedData(Some(frame(Nil)))
    assert(driver.onePartition && !aggregate.onePartition)
    (driver, aggregate)
  }

  test("driver-side and aggregate inference agree on casts, non-castable counts and row counts") {
    val (driver, aggregate) = layouts(Files.createTempDirectory("graft_infer"))
    val rnd = new scala.util.Random(20261020L)
    for (round <- 0 until 60) {
      val cells = randomCells(rnd, if (round < 2) round else rnd.nextInt(40))
      val df = frame(cells)
      val (typedD, rowsD, badD) = driver.inferTypesCounting(df)
      val (typedA, rowsA, badA) = aggregate.inferTypesCounting(df)
      val clue = s"round $round over\n${cells.map(_.mkString("|")).mkString("\n")}"
      assert(typedD.schema == typedA.schema, clue)
      assert(rowsD == rowsA && rowsD.contains(cells.size.toLong), clue)
      assert(badD == badA && badD.keySet == cols.toSet, clue)
      assert(sortedRows(typedD) == sortedRows(typedA), clue)
    }
  }

  test("a recipe from its files and from the same rows as an outside frame normalizes alike") {
    val dir = Files.createTempDirectory("graft_infer_recipe")
    val rnd = new scala.util.Random(20261021L)
    for (round <- 0 until 8) {
      val file = dir.resolve(s"cells$round.csv")
      Files.writeString(file, csv(randomCells(rnd, 1 + rnd.nextInt(30))))
      val raw = Benchmark.fromString(spark, recipe(file), dir.toString).getRawData()
      val rawRows = spark.createDataFrame(raw.collect().toSeq.asJava, raw.schema)
      val driver = Benchmark.fromString(spark, recipe(file), dir.toString)
      val aggregate = Benchmark.fromString(spark, recipe(file), dir.toString)
      val outD = driver.getNormalizedData()
      val outA = aggregate.getNormalizedData(Some(rawRows))
      assert(driver.onePartition && !aggregate.onePartition)
      val clue = s"round $round over\n${Files.readString(file)}"
      assert(outD.schema == outA.schema, clue)
      assert(driver.stringVerdicts == aggregate.stringVerdicts, clue)
      assert(sortedRows(outD) == sortedRows(outA), clue)
    }
  }
}
