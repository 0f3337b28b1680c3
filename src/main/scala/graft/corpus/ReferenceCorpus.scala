package graft.corpus

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Locale

import org.apache.spark.sql.SparkSession

/** Deterministic fixture trees for the ported reference recipe corpus
  * (test scaffolding, not an operator: the driver-side writes here are
  * bounded file generation that happens once per sf directory).
  *
  * Every fixture value is a pure function of a single key column of a
  * driver parquet table, so the DuckDB oracle can recompute the expected
  * aggregation end-to-end without reading the fixture files:
  *
  *  - omnisci server logs  <- events.event_id   (regex line-carving, S2)
  *  - df_clsf run logs     <- orders.o_orderkey (pack + path precompute)
  *  - blackscholes logs    <- part.p_partkey    (rewrite rules + .meta)
  *  - fft logs             <- customer.c_custkey (3-file-name precompute)
  *
  * Layout follows the reference runner's convention
  * `runs/<run_id>/<suite>/<env>/<ts>.<command>.out` (bearysta
  * run.py:23-26,101) so the recipes' `Directory`/`File`-derived
  * precomputes see realistic paths.
  */
object ReferenceCorpus {

  /** The complete recipe tree written into every fixture root: all 28
    * recipes of the reference's examples/aggregations corpus (15 raw, 8
    * indicators, 5 top-level) plus the targets side-input. Key = path
    * relative to the corpus root, mirroring the reference layout, so
    * `../raw/x.yml` child references resolve identically.
    * CorpusParitySpec asserts each yml is semantically identical
    * (YAML-parse equality) to its reference counterpart. */
  val recipeFiles: Seq[(String, String)] = Seq(
    "omnisci-query-times.yml" -> CorpusRecipes.omnisciQueryTimes,
    "raw/df_clsf.yml" -> CorpusRecipes.dfClsf,
    "raw/rng.yml" -> CorpusRecipes.rawRng,
    "raw/umath-native.yml" -> CorpusRecipes.rawUmathNative,
    "raw/umath-python.yml" -> CorpusRecipes.rawUmathPython,
    "indicators/arithmetics-mkl.yml" -> CorpusRecipes.arithmeticsMkl,
    "indicators/arithmetics-numba.yml" -> CorpusRecipes.arithmeticsNumba,
    "raw/linalg.yml" -> CorpusRecipes.rawLinalg,
    "raw/linalg-native.yml" -> CorpusRecipes.rawLinalgNative,
    "indicators/linalg.yml" -> CorpusRecipes.indicatorsLinalg,
    "raw/sklearn.yml" -> CorpusRecipes.rawSklearn,
    "raw/sklearn-stock.yml" -> CorpusRecipes.rawSklearnStock,
    "raw/sklearn-native.yml" -> CorpusRecipes.rawSklearnNative,
    "raw/pca-native.yml" -> CorpusRecipes.rawPcaNative,
    "raw/svm.yml" -> CorpusRecipes.rawSvm,
    "raw/logreg.yml" -> CorpusRecipes.rawLogreg,
    "raw/df_regr.yml" -> CorpusRecipes.rawDfRegr,
    "indicators/sklearn.yml" -> CorpusRecipes.indicatorsSklearn,
    "indicators/daal4py.yml" -> CorpusRecipes.indicatorsDaal4py,
    "blackscholes.yml" -> CorpusRecipes.blackscholesSummary,
    "sklearn.yml" -> CorpusRecipes.sklearnSummary,
    "raw/blackscholes.yml" -> CorpusRecipes.rawBlackscholes,
    "raw/fft.yml" -> CorpusRecipes.rawFft,
    "indicators/blackscholes.yml" -> CorpusRecipes.indicatorsBlackscholes,
    "indicators/fft.yml" -> CorpusRecipes.indicatorsFft,
    "indicators/rng.yml" -> CorpusRecipes.indicatorsRng,
    "indicators.yml" -> CorpusRecipes.indicators,
    "summary_indicators.yml" -> CorpusRecipes.summaryIndicators,
    "config/targets.csv" -> CorpusRecipes.targetsCsv)

  private def fmt(x: Double): String = "%.2f".formatLocal(Locale.ROOT, x)

  /** Generates (once) and returns the fixture root for `sfDir`.
    *
    * `mult` replicates every driving key `mult`× (k -> k*mult+i), which
    * multiplies fixture LINE counts while keeping the file/recipe layout
    * — the growth regime of real benchmark-log corpora (logs get longer,
    * the recipe tree doesn't). Used by the `dag` leg of [[graft.tools.Scale]] for
    * wall-vs-data curves; the oracle suite always runs at mult=1. */
  def ensure(spark: SparkSession, sfDir: String, mult: Int = 1): String = synchronized {
    require(mult >= 1)
    val tag = new File(sfDir).getName.replaceAll("[^A-Za-z0-9.]", "_") +
      (if (mult > 1) s"_x$mult" else "")
    // bump the version suffix whenever fixture content changes — the
    // marker below caches the tree across JVMs
    val root = new File(sys.props("java.io.tmpdir"), s"graft_corpus_v9_$tag")
    val marker = new File(root, ".complete")
    if (marker.isFile) return root.getPath

    val files = scala.collection.mutable.LinkedHashMap.empty[String, StringBuilder]
    def line(path: String, s: String): Unit =
      files.getOrElseUpdate(path, new StringBuilder).append(s).append('\n')

    def keys(table: String, keyCol: String): Array[Long] = {
      val base = spark.read.parquet(s"$sfDir/$table.parquet")
        .select(keyCol).collect().map(_.getLong(0))
      if (mult == 1) base
      else base.flatMap(k => Array.tabulate(mult)(i => k * mult + i))
    }

    // ---- omnisci server logs (events.event_id) ----
    for (k <- keys("events", "event_id")) {
      val qid = k % 25
      val lid = k % 4 // single digit: group 1 of the carve regex must not split
      val exec = 1 + (k * 7) % 997
      val total = exec + k % 97
      val f = s"data/mapd_log/omnisci_server.INFO.$lid.log"
      line(f, s"""aug $lid graft stdlog sql_execute $qid ran omnisci q,"$exec","$total"}""")
      if (k % 3 == 0) line(f, "omnisci heartbeat ok") // digit-free: append rule
      if (k % 5 == 0) line(f, "NVMe warn 99 disk") // unmatched-by-carve: drop rule
    }

    // ---- df_clsf run logs (orders.o_orderkey) ----
    val clsfHeader = "prefix_ID,rows,features,classes,threads,fit,predict"
    for (k <- keys("orders", "o_orderkey")) {
      val prefix = (k % 3).toInt match {
        case 0 => "Native-C-opt"
        case 1 => "Native-C-base"
        case _ => "IntelPython" // matches no filter rule -> dropped line
      }
      val rows = 1000 * (1 + (k / 3) % 2)
      val features = 10 * (1 + (k / 6) % 2)
      val classes = 2 + (k / 12) % 4
      val threads = if ((k / 48) % 2 == 0) "Serial" else "16"
      val arch = if ((k / 96) % 2 == 0) "xeon8280" else "icelake"
      val f = s"runs/bench_2026_${arch}_r_0/ml/python/17000000${(k / 192) % 4}_df_clsf.out"
      if (!files.contains(f)) line(f, clsfHeader)
      if (k % 50 == 0) line(f, "@ checkpoint reached")
      line(f, s"$prefix,$rows,$features,$classes,$threads,${1 + k % 97},${1 + k % 89}")
    }

    // ---- blackscholes logs (part.p_partkey) + .meta sidecars ----
    for (k <- keys("part", "p_partkey")) {
      val arch = if (k % 2 == 0) "xeon8280" else "icelake"
      val mode = if ((k / 2) % 2 == 0) "seq" else "par"
      val v = (k % 3).toInt
      val acc = if ((k / 4) % 2 == 0) "ha" else "ep"
      // three sizes: 16777216 (indicators/blackscholes.yml filter-in) and
      // 2097152 (top-level blackscholes.yml filter-in) must both exist
      val size = ((k / 8) % 3).toInt match {
        case 0 => 16777216L; case 1 => 1048576L; case _ => 2097152L
      }
      val mops = 1.0 + (k % 400) * 0.25
      val run = s"runs/bs_2026_${arch}_r_0/bs"
      if (v < 2) {
        val ts = 1700000000 + (if (mode == "seq") 0 else 1) * 2 + (if (acc == "ha") 0 else 1)
        val f = s"$run/native_c/$ts.run_blackscholes_$mode.out"
        if (!files.contains(f)) files(f + ".meta") = new StringBuilder(s"acc: $acc\n")
        val impl = if (v == 0) "SVML" else "VML"
        line(f, s"ERF: Native-C-$impl: Size: $size MOPS: ${fmt(mops)}")
        if (k % 7 == 0) line(f, "Using native erf implementation")
      } else {
        val f = s"$run/intelpython3/1700000010.run_blackscholes_$mode.out"
        val impl = if (mode == "par") "Numba@jit-loop-par" else "Numba@jit-loop"
        line(f, s"ERF: $impl: Size: $size MOPS: ${fmt(mops)} intelpython3")
      }
    }

    // ---- rng logs (supplier.s_suppkey): headerless, csv-header imposed;
    //      the CSV Prefix field is junk the recipe's precompute overwrites ----
    for (k <- keys("supplier", "s_suppkey")) {
      val env = (k % 3).toInt match {
        case 0 => "native"; case 1 => "intelpython3"; case _ => "stockpython3"
      }
      val arch = if ((k / 8) % 2 == 0) "xeon8280" else "icelake"
      val brng = (k % 4).toInt match {
        case 0 => "None"; case 1 => "MCG31"; case 2 => "MT2203"; case _ => "SFMT19937"
      }
      val dist = (k % 5).toInt match {
        case 0 => "uniform"; case 1 => "normal"; case 2 => "gamma"
        case 3 => "beta"; case _ => "lognormal"
      }
      val time = 0.5 + (k % 100) * 0.25 // dyadic: exact through %.2f + parse
      val f = s"runs/rng_2026_${arch}_r_0/rng/$env/1700000030.np_rng_bench.out"
      line(f, s"raw,$brng,$dist,${fmt(time)}")
    }

    // ---- umath logs: native (part.p_partkey) + python (customer.
    //      c_custkey). Native lines carry the env marker the recipe's
    //      REPLACE rule rewrites to the Prefix; python files hold both
    //      CPE:aligned/:unaligned plus stray repeated headers and drop
    //      lines exercising the filter-out / drop rules. ----
    for (k <- keys("part", "p_partkey")) {
      val impl = if (k % 2 == 0) "SVML" else "VML"
      val func = (k % 6).toInt match {
        case 0 => "array*array"; case 1 => "array+array"; case 2 => "array-array"
        case 3 => "array/array"; case 4 => "erf"; case _ => "exp"
      }
      val size = if ((k / 4) % 2 == 0) 16777216L else 1048576L
      val mode = if ((k / 2) % 2 == 0) "seq" else "par"
      val arch = if ((k / 8) % 2 == 0) "xeon8280" else "icelake"
      val cpe = 1.0 + (k % 80) * 0.25
      val f = s"runs/um_2026_${arch}_r_0/umath/native_c/1700000040.run_umath_native_$mode.out"
      if (!files.contains(f)) line(f, "Prefix,Implementation,Function,Size,CPE")
      line(f, s"native_ha,$impl,$func,$size,${fmt(cpe)}")
      if (k % 11 == 0) line(f, "Overhead 12 cycles") // explicit drop rule
      if (k % 13 == 0) line(f, "warmup note") // matches no rule -> dropped
    }
    for (k <- keys("customer", "c_custkey")) {
      val prefix = if (k % 2 == 0) "stockpython3" else "intelpython3"
      val impl = (k % 3).toInt match {
        case 0 => "numpy"; case 1 => "numexpr"; case _ => "numba"
      }
      val func = (k % 6).toInt match {
        case 0 => "array*array"; case 1 => "array+array"; case 2 => "array-array"
        case 3 => "array/array"; case 4 => "erf"; case _ => "exp"
      }
      val size = if ((k / 4) % 2 == 0) 16777216L else 1048576L
      val mode = if ((k / 2) % 2 == 0) "seq" else "par"
      val arch = if ((k / 8) % 2 == 0) "xeon8280" else "icelake"
      val al = 2.0 + (k % 90) * 0.25
      val f = s"runs/um_2026_${arch}_r_0/umath/python/1700000041.run_umath_python_$mode.out"
      val hdr = "Prefix,Implementation,Function,Size,CPE:aligned,CPE:unaligned"
      if (!files.contains(f)) line(f, hdr)
      line(f, s"$prefix,$impl,$func,$size,${fmt(al)},${fmt(al + 0.5)}")
      if (k % 17 == 0) line(f, hdr) // stray header row -> filter-out Prefix
      if (k % 19 == 0) line(f, "Unaligned run detected") // drop rule
    }

    // ---- linalg ibench logs: python (events.event_id, header kept by
    //      the empty-pattern rule) + native (part.p_partkey, per-function
    //      file names, lowercase Function the recipe capitalizes) ----
    val laFuncs = Seq("dot", "det", "inv", "cholesky", "eig", "lu", "qr", "svd")
    for (k <- keys("events", "event_id")) {
      val func = laFuncs((k % 8).toInt).capitalize
      val size = if ((k / 4) % 2 == 0) 1000 else 2000
      val mode = if ((k / 2) % 2 == 0) "seq" else "par"
      val env = if ((k / 3) % 2 == 0) "intelpython3" else "stockpython3"
      val arch = if ((k / 8) % 2 == 0) "xeon8280" else "icelake"
      val t = 0.5 + (k % 120) * 0.25
      val f = s"runs/la_2026_${arch}_r_0/linalg/$env/1700000050.run_ibench_$mode.out"
      if (!files.contains(f)) line(f, "Function,Size,Time")
      line(f, s"$func,$size,${fmt(t)}")
      if (k % 9 == 0) line(f, "@ ibench checkpoint") // '^@' drop rule
    }
    for (k <- keys("part", "p_partkey")) {
      val func = laFuncs((k % 8).toInt)
      val size = if ((k / 4) % 2 == 0) 1000 else 2000
      val mode = if ((k / 2) % 2 == 0) "seq" else "par"
      val arch = if ((k / 8) % 2 == 0) "xeon8280" else "icelake"
      val t = 0.25 + (k % 100) * 0.25
      val f = s"runs/la_2026_${arch}_r_0/linalg/native/1700000051.run_${func}_native_$mode.out"
      if (!files.contains(f)) line(f, "Prefix,Function,Size,Time")
      line(f, s"Native-C,$func,$size,${fmt(t)}")
    }

    // ---- sklearn logs: python + daal4py trees (orders.o_orderkey,
    //      lowercase headers, noise lines for every drop rule, nullable
    //      solver/svd_solver filter-out columns) and native headerless
    //      per-function files (supplier.s_suppkey, csv-header imposed,
    //      junk Arch column the precompute overwrites) ----
    // the sklearn run-dir arch token is 'Xeon' (not 'xeon8280'): the
    // top-level sklearn.yml filters `Arch: [Xeon]`, and Arch derives
    // from the directory name — reference run dirs encoded it this way
    val skFuncs = Seq("kmeans", "ridge", "linear", "distances")
    for (k <- keys("orders", "o_orderkey")) {
      val prefix = if (k % 2 == 0) "intelpython3" else "stockpython3"
      val func = skFuncs((k % 4).toInt)
      val size = if ((k / 4) % 2 == 0) 10000 else 20000
      val classes = 2 + (k / 5) % 3
      val threads = Seq(1, 2, 4)(((k / 2) % 3).toInt)
      val arch = if ((k / 8) % 2 == 0) "Xeon" else "icelake"
      val t = 0.5 + (k % 110) * 0.25
      val solver = if (k % 7 == 0) "newton-cg" else "lbfgs"
      val svd = if (k % 11 == 0) "daal" else "full"
      val hdr = "prefix,function,size,classes,threads,time,solver,svd_solver"
      val f = s"runs/sk_2026_${arch}_r_0/sklearn_python/py/1700000060.run_sklearn_bench.out"
      if (!files.contains(f)) line(f, hdr)
      line(f, s"$prefix,$func,$size,$classes,$threads,${fmt(t)},$solver,$svd")
      if (k % 13 == 0) line(f, "Tolerance: 0.001")
      if (k % 17 == 0) line(f, "WARNING: Number of actual iterations reached limit")
      if (k % 19 == 0)
        line(f, "@ Package 'daal4py' was not found. Number of threads is being ignored")
      if (k % 3 == 0) {
        val fd = s"runs/sk_2026_${arch}_r_0/sklearn_daal4py/py/1700000061.run_sklearn_daal.out"
        if (!files.contains(fd)) line(fd, hdr)
        line(fd, s"daal4py,$func,$size,$classes,$threads,${fmt(t)},lbfgs,full")
      }
    }
    for (k <- keys("supplier", "s_suppkey")) {
      val func = skFuncs((k % 4).toInt)
      val size = if ((k / 4) % 2 == 0) 10000 else 20000
      val threads = Seq(1, 2, 4)(((k / 2) % 3).toInt)
      val arch = if ((k / 8) % 2 == 0) "Xeon" else "icelake"
      val t = 0.25 + (k % 90) * 0.25
      val f = s"runs/sk_2026_${arch}_r_0/sklearn_native/native/1700000062.run_${func}_bench.csv"
      line(f, s"b1,a0,Native-C,$threads,$size,$func,${fmt(t)}")
      if (k % 13 == 0) line(f, "Tolerance: 0.001") // native filter drop rule
    }

    // ---- pca-native logs (supplier.s_suppkey): headerless 8-col files
    //      under the sklearn_native tree; the `svd_solver` column the
    //      recipe filters out does NOT exist in the imposed csv-header —
    //      it arrives via the .meta sidecar (S6), so a whole file is
    //      'daal' (all rows dropped) or 'full' (kept) ----
    for (k <- keys("supplier", "s_suppkey")) {
      val svd = if (k % 2 == 0) "daal" else "full"
      val arch = if ((k / 8) % 2 == 0) "Xeon" else "icelake"
      val threads = if ((k / 2) % 2 == 0) 1 else 16
      val size = if ((k / 4) % 2 == 0) 10000 else 20000
      val ncomp = 3 + k % 5
      val func = if ((k / 16) % 2 == 0) "pca.fit" else "pca.transform"
      val t = 0.25 + (k % 90) * 0.25
      val f = s"runs/sk_2026_${arch}_r_0/sklearn_native/native/1700000063.np_pca_$svd.csv"
      if (!files.contains(f))
        files(f + ".meta") = new StringBuilder(s"svd_solver: $svd\n")
      line(f, s"b1,a0,Native-C,$threads,$size,$ncomp,$func,${fmt(t)}")
      if (k % 13 == 0) line(f, "Tolerance: 0.001")
      if (k % 17 == 0) line(f, "WARNING: Number of actual iterations reached limit")
      if (k % 19 == 0)
        line(f, "@ Package 'daal4py' was not found. Number of threads is being ignored")
    }

    // ---- svm run logs (customer.c_custkey): only '^(Native-C)' lines
    //      kept; header carried by the prefix_ID->Prefix REPLACE rule ----
    val svmHeader = "prefix_ID,rows,features,classes,threads,fit,predict"
    for (k <- keys("customer", "c_custkey")) {
      val prefix = if (k % 3 < 2) "Native-C" else "IntelPython" // latter: no rule -> dropped
      val rows = 1000 * (1 + (k / 3) % 2)
      val features = 10 * (1 + (k / 6) % 2)
      val classes = 2 + (k / 12) % 4
      val threads = if ((k / 24) % 2 == 0) 1 else 16 // all-numeric: `threads == 1` idiom
      val arch = if ((k / 48) % 2 == 0) "xeon8280" else "icelake"
      val f = s"runs/svm_2026_${arch}_r_0/ml/python/170000007${(k / 96) % 4}_svm.out"
      if (!files.contains(f)) line(f, svmHeader)
      line(f, s"$prefix,$rows,$features,$classes,$threads,${1 + k % 97},${1 + k % 89}")
    }

    // ---- logreg run logs (orders.o_orderkey): '^@' drop rule, solver
    //      column for the filter-in, numeric threads ----
    val lrHeader = "prefix_ID,rows,features,classes,threads,solver,fit,predict"
    for (k <- keys("orders", "o_orderkey")) {
      val prefix = if (k % 4 < 3) "Native-C" else "IntelPython"
      val rows = 1000 * (1 + (k / 3) % 2)
      val features = 10 * (1 + (k / 6) % 2)
      val classes = 2 + (k / 12) % 4 // 2 and 3 filtered out by the recipe
      val threads = if ((k / 24) % 2 == 0) 1 else 16
      val solver = if (k % 5 == 0) "newton-cg" else "lbfgs"
      val arch = if ((k / 96) % 2 == 0) "xeon8280" else "icelake"
      val f = s"runs/lr_2026_${arch}_r_0/ml/python/170000009${(k / 192) % 4}_log_reg.out"
      if (!files.contains(f)) line(f, lrHeader)
      if (k % 50 == 0) line(f, "@ lbfgs converged")
      line(f, s"$prefix,$rows,$features,$classes,$threads,$solver,${1 + k % 101},${1 + k % 83}")
    }

    // ---- df_regr run logs (part.p_partkey): mixed string/numeric
    //      threads exercising the `== 'Serial' or == 1` disjunct ----
    val drHeader = "prefix_ID,rows,features,threads,fit,predict"
    for (k <- keys("part", "p_partkey")) {
      val prefix = if (k % 3 < 2) "Native-C" else "IntelPython"
      val rows = 1000 * (1 + (k / 3) % 2)
      val features = 10 * (1 + (k / 6) % 2)
      val threads = if ((k / 24) % 2 == 0) "Serial" else "16"
      val arch = if ((k / 48) % 2 == 0) "xeon8280" else "icelake"
      val f = s"runs/dr_2026_${arch}_r_0/ml/python/17000001${(k / 96) % 4}0_df_regr.out"
      if (!files.contains(f)) line(f, drHeader)
      if (k % 50 == 0) line(f, "@ checkpoint reached")
      line(f, s"$prefix,$rows,$features,$threads,${1 + k % 91},${1 + k % 79}")
    }

    // ---- fft logs (customer.c_custkey) ----
    for (k <- keys("customer", "c_custkey")) {
      val func = if (k % 2 == 0) "fft" else "rfft"
      val inPlace = (k / 2) % 2 == 1
      val mode = if ((k / 4) % 2 == 0) "seq" else "par"
      val env = (k % 3).toInt match {
        case 0 => "native"; case 1 => "intelpython3"; case _ => "stockpython3"
      }
      val arch = if ((k / 8) % 2 == 0) "xeon8280" else "icelake"
      val med = 0.5 + (k % 300) * 0.25
      val name = s"np_${func}_1000_$mode" + (if (inPlace) "_in" else "")
      val f = s"runs/fft_2026_${arch}_r_0/fft/$env/1700000020.$name.out"
      (k % 6).toInt match {
        case 0 => line(f, "TAG fft-bench v2")
        case 1 => line(f, "$PREFIX=" + env)
        case 2 => line(f, "======")
        case _ => ()
      }
      line(f, s"${fmt(med - 0.25)}, ${fmt(med)}, ${fmt(med + 0.5)}")
    }

    // ---- write everything, then recipes, then the marker ----
    val tmp = new File(root.getParent, root.getName + ".tmp")
    if (tmp.exists()) deleteRecursively(tmp)
    for ((rel, sb) <- files) {
      val f = new File(tmp, rel)
      f.getParentFile.mkdirs()
      Files.write(f.toPath, sb.toString.getBytes(StandardCharsets.UTF_8))
    }
    for ((rel, text) <- recipeFiles) {
      val f = new File(tmp, rel)
      f.getParentFile.mkdirs()
      Files.write(f.toPath, text.getBytes(StandardCharsets.UTF_8))
    }
    // reference globs are CWD-relative ('runs/...'), ours are
    // recipe-dir-relative: a raw/runs -> ../runs symlink keeps the raw
    // recipes byte-verbatim
    Files.createSymbolicLink(Paths.get(tmp.getPath, "raw", "runs"),
      Paths.get("..", "runs"))
    if (root.exists()) deleteRecursively(root)
    if (!tmp.renameTo(root))
      throw new java.io.IOException(s"could not move $tmp to $root")
    Files.write(marker.toPath, Array.emptyByteArray)
    root.getPath
  }

  /** Ensures the fixture tree, then writes the derived
    * `sklearn_expected.yml` (sklearn.yml with the reference's
    * commented-out `expected:` block restored — see
    * [[CorpusRecipes.sklearnSummaryExpected]]) next to the 28 verbatim
    * recipes and returns its path. Kept out of [[recipeFiles]] so the
    * verbatim-parity gate stays a pure 28/28 check. */
  def ensureExpected(spark: SparkSession, sfDir: String): String = synchronized {
    val root = ensure(spark, sfDir)
    val text = CorpusRecipes.sklearnSummaryExpected
    require(text.contains("expected:"), "derived recipe lost its expected block")
    val f = new File(root, "sklearn_expected.yml")
    if (!f.isFile)
      Files.write(f.toPath, text.getBytes(StandardCharsets.UTF_8))
    f.getPath
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      f.listFiles().foreach(deleteRecursively)
    f.delete()
  }
}
