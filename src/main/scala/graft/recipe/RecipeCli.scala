package graft.recipe

import graft.GraftSession

/** CLI mirroring the reference's `python -m bearysta.aggregate` surface
  * (aggregate.py:968-1063): run recipes, emit CSV / pretty / HTML / Excel.
  *
  * Flag surface (argparse mirror):
  *   --csv/-o, --pretty/-P, --html/-H, --excel/-x take an OPTIONAL value
  *   (argparse `nargs='?'` + `const`, aggregate.py:985-992): bare `-x`
  *   defaults to `{filename}.xlsx`, bare `-o` to `{filename}.csv`, bare
  *   `-P` to stdout, bare `-H` to `{filename}.html`. A following token is
  *   the flag's value only when it isn't another flag and isn't a recipe
  *   file (`*.yml`/`*.yaml`) — so `RecipeCli -x recipe.yml` writes
  *   `recipe.xlsx` instead of eating the recipe path. (Recipes are always
  *   YAML in the reference corpus, so the file test is unambiguous where
  *   argparse's greedy consume would just error out on a missing config.)
  *   --verbose/-v is counted (aggregate.py:970, level 20 - 10*v): each
  *   occurrence (or letter in `-vv`) raises verbosity.
  *   --excel-pivot-table/-p takes pandas|excel (aggregate.py:974-984);
  *   `excel` (native COM pivot, K5) is out of scope and warns + falls
  *   back to the pandas-style pivot sheet.
  */
object RecipeCli {

  final case class Config(
    csv: Option[String] = None,
    pretty: Option[String] = None,
    html: Option[String] = None,
    excel: Option[String] = None,
    pivotStyle: String = "pandas",
    plot: Boolean = false,
    raw: Boolean = false,
    verbose: Int = 0,
    inputs: List[String] = Nil,
    recipes: List[String] = Nil)

  /** True when `tok` should be consumed as the value of an optional-value
    * flag: any non-flag token that isn't a recipe file, plus the literal
    * `-` (stdout). */
  private def isFlagValue(tok: String): Boolean =
    tok == "-" || (!tok.startsWith("-") &&
      !tok.endsWith(".yml") && !tok.endsWith(".yaml"))

  /** Option-shaped token (argparse treats any `-x`/`--x` as a flag, never
    * as the value of a required-argument option; lone `-` stays a value). */
  private def looksLikeFlag(tok: String): Boolean =
    tok.length > 1 && tok.startsWith("-")

  /** Pure argv parser; Left(message) on a usage error (argparse exits 2
    * on unrecognized arguments / missing values — we surface the same
    * conditions as errors instead of silently misparsing). */
  def parse(args: Array[String]): Either[String, Config] = {
    var c = Config()
    var i = 0
    def optValue(const: String): String =
      if (i + 1 < args.length && isFlagValue(args(i + 1))) { i += 1; args(i) }
      else const
    while (i < args.length) {
      args(i) match {
        case "--csv" | "-o" => c = c.copy(csv = Some(optValue("{filename}.csv")))
        case "--pretty" | "--pretty-print" | "-P" =>
          c = c.copy(pretty = Some(optValue("-")))
        case "--html" | "-H" => c = c.copy(html = Some(optValue("{filename}.html")))
        case "--excel" | "-x" => c = c.copy(excel = Some(optValue("{filename}.xlsx")))
        case "--excel-pivot-table" | "-p" =>
          // argparse rejects a flag-shaped next token for required-argument
          // options ("expected one argument", exit 2) rather than eating it
          if (i + 1 >= args.length || looksLikeFlag(args(i + 1)))
            return Left("argument --excel-pivot-table/-p: expected one argument")
          i += 1
          if (args(i) != "pandas" && args(i) != "excel")
            return Left(s"argument --excel-pivot-table/-p: invalid choice: '${args(i)}' (choose from 'pandas', 'excel')")
          c = c.copy(pivotStyle = args(i))
        case "--plot" => c = c.copy(plot = true)
        case "--raw" => c = c.copy(raw = true)
        case "--verbose" | "-v" => c = c.copy(verbose = c.verbose + 1)
        case v if v.startsWith("-v") && v.drop(1).forall(_ == 'v') =>
          c = c.copy(verbose = c.verbose + v.length - 1) // -vv / -vvv
        case "--input" | "-i" =>
          if (i + 1 >= args.length || looksLikeFlag(args(i + 1)))
            return Left("argument --input/-i: expected one argument")
          i += 1
          c = c.copy(inputs = args(i) :: c.inputs)
        case flag if flag.length > 1 && flag.startsWith("-") =>
          return Left(s"unrecognized arguments: $flag")
        case recipe => c = c.copy(recipes = recipe :: c.recipes)
      }
      i += 1
    }
    if (c.recipes.isEmpty) Left("the following arguments are required: config")
    else Right(c.copy(inputs = c.inputs.reverse, recipes = c.recipes.reverse))
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args) match {
      case Left(msg) =>
        System.err.println(s"error: $msg")
        System.err.println("usage: RecipeCli [-v]... [--csv [P|-]] [--pretty [P|-]] [--html [P]] [--excel [P]] [-p pandas|excel] [--plot] [--raw] [--input GLOB]... recipe.yml...")
        sys.exit(2)
      case Right(ok) => ok
    }
    // aggregate.py:1002 — logger level 20 - verbose*10; warnings (30)
    // always print, info (20) from -v0 in the reference is progress noise
    // we keep opt-in at -v, debug detail at -vv
    def info(msg: => String): Unit = if (c.verbose >= 1) System.err.println(s"[INFO] $msg")
    def debug(msg: => String): Unit = if (c.verbose >= 2) System.err.println(s"[DEBUG] $msg")
    if (c.excel.nonEmpty && c.pivotStyle == "excel")
      System.err.println("[WARNING] --excel-pivot-table excel (native COM pivot) is not supported on this engine; falling back to the pandas-style pivot sheet")
    val spark = GraftSession.local()
    try for (path <- c.recipes) {
      val name = new java.io.File(path).getName.replaceAll("\\.[^.]*$", "")
      info(s"running recipe $path")
      val bench = Benchmark(spark, path)
      try {
      val df0 = bench.getAggregatedData(
        inputs = if (c.inputs.isEmpty) None else Some(c.inputs))
      // every sink collects the aggregated frame independently; with
      // more than one, pin it so the pipeline executes once regardless
      // of which upstream frames the Benchmark chose to cache
      val nSinks = Seq(c.csv, c.pretty, c.html, c.excel).flatten.size
      val df = if (nSinks > 1) df0.persist() else df0
      debug(df.queryExecution.optimizedPlan.treeString)
      bench.warnings.foreach(w => System.err.println(s"[WARNING] $w"))
      c.csv.foreach {
        case "-" => print(Sinks.toCsvString(df))
        case p => Sinks.writeCsv(df, p.replace("{filename}", name))
      }
      c.pretty.foreach {
        case "-" => print(Sinks.pivotString(df, bench.recipe))
        case p => java.nio.file.Files.writeString(
          java.nio.file.Paths.get(p.replace("{filename}", name)),
          Sinks.pivotString(df, bench.recipe))
      }
      c.html.foreach(p =>
        Sinks.writeHtml(df, bench.recipe, p.replace("{filename}", name), name, c.plot))
      c.excel.foreach(p =>
        Sinks.writeXlsx(df, bench.recipe, p.replace("{filename}", name),
          raw = if (c.raw) Some(bench.getNormalizedData(
            inputs = if (c.inputs.isEmpty) None else Some(c.inputs))) else None))
      if (nSinks == 0) print(Sinks.pivotString(df, bench.recipe))
      if (nSinks > 1) df.unpersist(false)
      // finally: a failing sink must not leak this recipe's caches
      // into the next recipe's evaluation
      } finally bench.unpersist()
    } catch {
      case e: RecipeError =>
        System.err.println(s"[ERROR] ${e.msg}")
        sys.exit(1)
    } finally spark.stop()
  }
}
