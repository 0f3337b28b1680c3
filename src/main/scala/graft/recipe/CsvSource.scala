package graft.recipe

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import scala.jdk.CollectionConverters._

import graft.expressions.CsvLineFields

case class RecipeError(msg: String) extends RuntimeException(msg)

/** Recipe input scan: glob expansion, per-file regex line filtering,
  * CSV parse with header imposition, provenance columns and `.meta`
  * sidecar constants, unioned by name (missing -> null). Mirrors bearysta
  * aggregate.py:134-314 with Spark distribution semantics.
  *
  * Scale shape: files are grouped by parsed column-name set and each
  * group becomes ONE distributed relation — a native multi-file CSV scan
  * (splittable) when the recipe has no line filter, or one wholetext scan
  * flat-mapped through [[LineFilter]] (per-file sequential state, parallel
  * across files) when it does. Per-file constants (provenance columns,
  * `.meta` sidecar values) ride in via a broadcast equi-join on the file
  * path rather than per-file literal columns, so a 10k-file glob is one
  * scan + one broadcast join, not 10k union branches. The parse schema is
  * all-string and fixed up front (from a driver-side one-line peek per
  * file, the same peek the reference does at aggregate.py:278-283), so no
  * per-file Spark inference jobs run; numeric typing happens once for the
  * whole union in [[Benchmark]]'s inference pass — the reference's own
  * model (pandas `to_numeric`, aggregate.py:316-352).
  */
object CsvSource {

  /** Hadoop-FS glob expansion (works for local paths and hdfs/s3 alike),
    * sorted for determinism. */
  def expandGlobs(spark: SparkSession, patterns: Seq[String], baseDir: String): Seq[String] =
    expandGlobStatuses(spark, patterns, baseDir).map(_._1)

  /** Like [[expandGlobs]] but keeps each file's length from the same
    * globStatus listing — the scan's partition-count math needs the
    * sizes, and re-fetching them with per-file getFileStatus calls would
    * pay one extra driver RPC per file (linear in glob size, exactly the
    * many-small-files case the partition coalescing targets). */
  private[recipe] def expandGlobStatuses(spark: SparkSession, patterns: Seq[String],
                                         baseDir: String): Seq[(String, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    patterns.flatMap { pat =>
      val resolved = if (new java.io.File(pat).isAbsolute) pat
        else new java.io.File(baseDir, pat).getPath
      val p = new Path(resolved)
      val fs = p.getFileSystem(conf)
      Option(fs.globStatus(p))
        .map(_.toSeq.map(s => (s.getPath.toUri.getPath, s.getLen)))
        .getOrElse(Seq.empty)
    }.sortBy(_._1)
  }

  /** Per-file scan facts decided driver-side from the one-line peek;
    * `len` carried from the glob listing so partition math never
    * re-stats the file. */
  private case class FileInfo(path: String, names: Seq[String], hasHeaderRow: Boolean,
                              meta: Seq[(String, Any)], len: Long)

  private def fileInfo(spark: SparkSession, recipe: Recipe, file: String,
                       len: Long): FileInfo = {
    val first = firstFilteredLine(spark, recipe, file)
    val (names, hasHeaderRow) = recipe.input.csvHeader match {
      case Some(header) =>
        val imposed = header.split(",").map(_.trim).toSeq
        if (first.replace(" ", "") == header.replace(" ", "")) (imposed, true)
        else {
          val nFields = if (first.isEmpty) imposed.length else CsvLineFields.tokens(first).length
          if (nFields != imposed.length)
            throw RecipeError(
              s"csv-header has ${imposed.length} columns but '$file' parsed $nFields")
          (imposed, false)
        }
      case None =>
        if (first.isEmpty) throw RecipeError(s"'$file' has no data after filtering")
        (CsvLineFields.tokens(first).map(_.trim).toSeq, true)
    }
    FileInfo(file, names, hasHeaderRow, readMeta(file), len)
  }

  /** First post-filter line of `file`, read driver-side through the
    * (lazy) line filter — the header-imposition check needs one line, and
    * a Spark job per file would mean O(files) driver jobs on a 10k-file
    * glob (aggregate.py:278-283 does the same single-line peek). */
  private def firstFilteredLine(spark: SparkSession, recipe: Recipe, file: String): String = {
    val p = new Path(file)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try {
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      val it =
        if (recipe.input.filters.nonEmpty)
          LineFilter(LineFilter.compile(recipe.input.filters), src.getLines())
        else src.getLines()
      if (it.hasNext) it.next() else ""
    } finally in.close()
  }

  /** `.meta` sidecar YAML -> per-file constant columns (overwriting
    * existing ones, like pandas df.assign). */
  private def readMeta(file: String): Seq[(String, Any)] = {
    val metaFile = new java.io.File(file + ".meta")
    if (!metaFile.isFile) Seq.empty
    else {
      val yaml = new org.yaml.snakeyaml.Yaml()
      val in = new java.io.FileInputStream(metaFile)
      val meta =
        try yaml.load[java.util.Map[String, Object]](in)
        finally in.close()
      meta.asScala.toSeq.map { case (k, v) =>
        k -> (v match {
          case n: java.lang.Number => n
          case b: java.lang.Boolean => b
          case other => if (other == null) null else other.toString
        })
      }
    }
  }

  /** Size-derived partition targets of one scan over `bytes` of input
    * on `cores` cores, as [[readGroup]] lays out a line-filtered group:
    * `(parse, lines)`.
    *  - parse: bytes / 2 MB. The one-time regex + CSV parse is CPU-bound
    *    at ~1 s per 2 MB task; an IO-oriented 128 MB target would
    *    single-thread it (measured: +3 s on the sklearn group).
    *  - lines: bytes / 1 MB, at most 4 waves of the cluster: the
    *    repartition target of a few large unsplittable files.
    *
    * Both are 1 exactly when the input is too small to split at all; the
    * recipe DAG's layout rule ([[scansAsOnePartition]]) reads that. */
  private[recipe] def partitionTargets(bytes: Long, cores: Long): (Long, Long) = (
    math.max(1L, bytes / (2L << 20) + 1),
    math.min(math.max(1L, bytes / (1L << 20) + 1), cores * 4))

  /** Whether a scan over `bytes` of input has one partition as its every
    * size-derived target ([[partitionTargets]]). */
  private[recipe] def scansAsOnePartition(bytes: Long, cores: Long): Boolean =
    partitionTargets(bytes, cores) == ((1L, 1L))

  /** One relation for a group of same-schema files: a single multi-file
    * scan plus a broadcast side-table join carrying the per-file
    * constants (Path/File/Directory provenance + `.meta` values). With
    * `onePartition`, scan and side table are one partition each and
    * join in place: a broadcast would cost a job of its own. */
  private def readGroup(spark: SparkSession, recipe: Recipe, colNames: Seq[String],
                        files: Seq[FileInfo], onePartition: Boolean): DataFrame = {
    import spark.implicits._
    val schema = StructType(colNames.map(StructField(_, StringType)))
    val paths = files.map(_.path)

    // ---- the data scan: one relation for the whole group ----
    // __gf_path is the plain (scheme-less) file path used as the join key.
    val parsed: DataFrame =
      if (recipe.input.filters.nonEmpty) {
        val rules = recipe.input.filters
        // header line (when present) must be dropped per file — the skip
        // decision was made driver-side in fileInfo
        val skipFirst = files.filter(_.hasHeaderRow).map(_.path).toSet
        // input_file_name() reports Hadoop's qualified URI; map every
        // form it may take back to the plain path driver-side
        val plainOf = uriCandidates(spark, paths)
        val lines = spark.read.option("wholetext", "true").text(paths: _*)
          .select(input_file_name().as("f"), col("value"))
          .as[(String, String)]
          .flatMap { case (fname, content) =>
            val plain = plainOf.getOrElse(fname, fname)
            val it = LineFilter(LineFilter.compile(rules), content.linesIterator)
            val it2 = if (skipFirst(plain)) it.drop(1) else it
            it2.map(l => (plain, l))
          }
          .toDF("__gf_path", "__gf_line")
          .filter(col("__gf_line") =!= "") // csv source skips blank lines
        // wholetext gives ONE partition per file; a 500-small-log glob
        // would otherwise drag 500 near-empty tasks through every later
        // pass over the (persisted) parse. Coalesce to a size-derived
        // count (2 MB CPU-bound parse targets, [[partitionTargets]]) — no shuffle,
        // and at 100 TB the same formula yields thousands of partitions.
        // Lengths come from the glob listing (FileInfo.len), not a
        // second per-file stat pass.
        val totalBytes = files.map(_.len).sum
        val cores = spark.sparkContext.defaultParallelism.toLong
        val (parseParts, lineParts) = partitionTargets(totalBytes, cores)
        // Partition count = the 2 MB parse target, capped at the file
        // count: wholetext cannot split a file, so more partitions than
        // files is meaningless. A 500-tiny-log glob still coalesces to a
        // handful of partitions, so later passes over the persisted parse
        // don't schedule 500 near-empty tasks each.
        val nParts = math.min(files.size.toLong, parseParts).toInt
        // wholetext cannot SPLIT a file either: the opposite degenerate
        // glob — a FEW LARGE logs (one 4 MB run log here; one 4 GB
        // server log at scale) — caps the regex+from_csv parse AND every
        // later pass over the persisted parse at file-count parallelism,
        // serializing multi-second work on single cores while the rest
        // of the cluster idles. When the size-derived target is at least
        // 2x the file count, round-robin-shuffle the filtered LINES to
        // the ~1 MB line targets (bounded by 4 waves of the cluster: more
        // tasks than that only adds scheduler load; AQE cannot help —
        // this is an RDD-visible cache layout, not a shuffle read). The
        // shuffled payload is exactly the lines about to be parsed, so
        // this costs one extra pass of shuffle IO and only fires when
        // unsplittable inputs would otherwise leave most of the cluster
        // idle — the same trade a manual `repartition()` after an
        // unsplittable-gzip read makes.
        //
        // The trigger is LATENCY-regime only: at most ~2 MB of lines
        // per core (one wave of parse tasks). Below that, the group
        // alone cannot fill the machine and the shuffle converts idle
        // cores into wall time (measured: the 11-recipe DAG at sf0.1,
        // 4-8 MB groups, 25.6 s -> 17.2 s min-of-3). Above it, waves of
        // parse tasks repeat anyway and sibling groups/recipes evaluate
        // concurrently, so the cluster is throughput-bound and the
        // shuffle is pure added IO (measured, interleaved A/B at 16x
        // fixtures with 67-114 MB groups: repartition 91-170 s vs
        // natural layout 66-92 s). Both bounds scale with the cluster:
        // a 1 GB single-file log on a 4000-core cluster still fires.
        val lines2 =
          if (lineParts >= files.size * 2 &&
              totalBytes < cores * (2L << 20))
            lines.repartition(lineParts.toInt)
          else lines
        // graft_csv_fields replaces from_csv(all-string schema,
        // ignoreLeadingWhiteSpace) — value-identical (CsvLineFieldsSpec
        // fuzzes the equivalence against from_csv itself) but without the
        // per-record Univocity reset + FailureSafeParser overhead that
        // dominated the parse stage (guide §1.2 "per-task work"). The
        // array is built once per line (CollapseProject never inlines a
        // non-cheap alias into k consumers); getItem pads short records
        // with null exactly like PERMISSIVE from_csv did.
        val parsed0 = lines2
          .select(col("__gf_path"),
            call_function("graft_csv_fields",
              col("__gf_line"), lit(colNames.length)).as("__gf_a"))
          .select(col("__gf_path") +: colNames.zipWithIndex.map { case (n, i) =>
            col("__gf_a").getItem(i).as(n) }: _*)
        // only coalesce when it actually collapses a many-small-files
        // glob (>=4 files per target partition); near the natural
        // per-file layout the relayout just costs parse locality
        if (nParts * 4 < files.size) parsed0.coalesce(nParts) else parsed0
      } else {
        // no line filter: the native (splittable) CSV scan over all files
        // at once; per-file header skipping is the datasource's own.
        // __gf_path stays in URI form here — the side table below carries
        // one row per URI spelling, so the join resolves it.
        val hasHeaderRow = files.head.hasHeaderRow // uniform within group
        spark.read
          .option("ignoreLeadingWhiteSpace", "true")
          .option("header", hasHeaderRow.toString)
          .option("enforceSchema", "true")
          .schema(schema)
          .csv(paths: _*)
          .withColumn("__gf_path", input_file_name())
      }

    // ---- per-file constants: provenance + meta, one broadcast join ----
    val metaKeys: Seq[String] = files.flatMap(_.meta.map(_._1)).distinct
    def metaType(k: String): org.apache.spark.sql.types.DataType = {
      val vs = files.flatMap(_.meta.collect { case (`k`, v) if v != null => v })
      if (vs.nonEmpty && vs.forall(_.isInstanceOf[java.lang.Boolean]))
        org.apache.spark.sql.types.BooleanType
      else if (vs.nonEmpty && vs.forall(v => v.isInstanceOf[java.lang.Long] || v.isInstanceOf[java.lang.Integer]))
        org.apache.spark.sql.types.LongType
      else if (vs.nonEmpty && vs.forall(_.isInstanceOf[java.lang.Number]))
        org.apache.spark.sql.types.DoubleType
      else StringType
    }
    val sideSchema = StructType(
      StructField("__gf_path", StringType) ::
      StructField("__gf_ppath", StringType) ::
      StructField("__gf_pfile", StringType) ::
      StructField("__gf_pdir", StringType) ::
      metaKeys.toList.flatMap(k => Seq(
        StructField(s"__gf_m_$k", metaType(k)),
        StructField(s"__gf_has_$k", org.apache.spark.sql.types.BooleanType))))
    // one side row per URI spelling input_file_name()/the flatMap may
    // report for a file, all carrying that file's constants
    val plainOf = uriCandidates(spark, paths)
    val infoOf = files.map(fi => fi.path -> fi).toMap
    val sideRows = plainOf.toSeq.map { case (key, plain) =>
      val fi = infoOf(plain)
      val f = new java.io.File(fi.path)
      val mm = fi.meta.toMap
      def norm(k: String): Any = mm.get(k).map {
        case v: java.lang.Integer => v.longValue(): java.lang.Long
        case v: java.lang.Number if metaType(k) == StringType => v.toString
        case v: java.lang.Boolean if metaType(k) == StringType => v.toString
        case v => v
      }.orNull
      Row.fromSeq(
        key :: fi.path :: f.getName :: Option(f.getParent).getOrElse(".") ::
        metaKeys.toList.flatMap(k => Seq(norm(k), mm.contains(k): java.lang.Boolean)))
    }
    val side = spark.createDataFrame(sideRows.asJava, sideSchema)
    val joined =
      if (onePartition) parsed.coalesce(1).join(side.coalesce(1).hint("shuffle_hash"), "__gf_path")
      else parsed.join(broadcast(side), "__gf_path")

    // provenance (overwrite CSV columns of the same name, like the
    // reference's df.assign); then meta overwrite/extend per file. Each
    // stage is ONE projection (withColumns), not a per-column withColumn
    // fold — the fold re-analyzes a deeper plan per column, O(k²)
    // analyzer work per scanned group
    val prov = joined.withColumns(Map(
      "Path" -> col("__gf_ppath"), "File" -> col("__gf_pfile"),
      "Directory" -> col("__gf_pdir")))
    val metaCols = metaKeys.map { k =>
      val v = col(s"`__gf_m_$k`")
      k -> (if (prov.columns.contains(k))
        // CSV already has the column (string): keep its type, like the
        // old per-file frames coerced under unionByName
        when(col(s"`__gf_has_$k`"), v.cast(StringType)).otherwise(col(s"`$k`"))
      else v)
    }.toMap
    val df = if (metaCols.isEmpty) prov else prov.withColumns(metaCols)
    df.drop(df.columns.filter(_.startsWith("__gf_")).toIndexedSeq: _*)
  }

  /** All URI spellings `input_file_name()` may report for each plain
    * path, mapped back to the plain path. */
  private def uriCandidates(spark: SparkSession, paths: Seq[String]): Map[String, String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      val q = fs.makeQualified(hp)
      Seq(p -> p, q.toString -> p, q.toUri.toString -> p,
        hp.toUri.toString -> p, "file:" + p -> p, "file://" + p -> p)
    }.toMap
  }

  /** The files of a glob listing the scan reads: everything but the
    * `.meta` sidecars (see [[scanFiles]]). */
  private[recipe] def dataFiles(files: Seq[(String, Long)]): Seq[(String, Long)] =
    files.filterNot(_._1.endsWith(".meta"))

  /** File portion of the scan over `files`, the [[expandGlobStatuses]]
    * listing of `patterns`: group files by parsed schema, one relation per
    * group (possibly none when the recipe only has child configs), each
    * in one partition when `onePartition`. */
  private[recipe] def scanFiles(spark: SparkSession, recipe: Recipe, patterns: Seq[String],
                                files: Seq[(String, Long)], onePartition: Boolean): Seq[DataFrame] = {
    // S4 'sql' reads SQLite files through graft.sources.Sqlite (pure-Scala
    // parser of the public file format — aggregate.py:295-314 semantics);
    // any other format fails loudly instead of feeding binary through the
    // CSV parser.
    if (recipe.input.format != "csv" && recipe.input.format != "sql")
      throw RecipeError(
        s"input.format '${recipe.input.format}' is unsupported in this build (only 'csv', 'sql')")
    if (files.isEmpty && patterns.nonEmpty)
      throw RecipeError(s"No matching files found for $patterns")
    // A suffix-less glob (pca-native's 'runs/.../*_pca*') also matches the
    // `.meta` sidecars themselves. The reference ingests those as CSV:
    // pandas pads the short line to the imposed header with NaN, the row's
    // axis keys are all NaN, and the groupby drops NaN keys — so sidecar-
    // as-data rows never reach any output. Skipping them at the scan is
    // behaviorally identical (no corpus recipe combines a sidecar-matching
    // glob with an empty axis) and avoids parsing YAML as CSV.
    val data = dataFiles(files)
    if (recipe.input.format == "sql") {
      val table = recipe.input.tableName.getOrElse(throw RecipeError(
        "input.format 'sql' requires input.table-name (aggregate.py:296-297)"))
      data.map { case (f, _) => try graft.sources.Sqlite.scan(spark, f, table)
        catch { case e: graft.sources.Sqlite.SqliteError => throw RecipeError(e.msg) } }
    } else {
      val infos = data.map { case (f, len) => fileInfo(spark, recipe, f, len) }
      // group by (schema, header-mode); preserve first-file order so the
      // union's frame order (and thus `first()` carry-alongs) is stable
      infos.groupBy(fi => (fi.names, fi.hasHeaderRow)).toSeq
        .sortBy(_._2.head.path)
        .map { case ((names, _), fis) => readGroup(spark, recipe, names, fis, onePartition) }
    }
  }
}
