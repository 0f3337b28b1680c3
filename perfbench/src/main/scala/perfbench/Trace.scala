package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.concurrent.Future
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.recipe.{Benchmark, Recipe}

/** In-memory span recorder. A span is a layer call made (or observed)
  * by the harness: name, start, end, the span that caused it, and the
  * evaluation it belongs to. Parents follow the calling thread's stack;
  * work handed to another thread is given its parent explicitly. Spans are
  * written out once, when the run ends ([[Trace.write]]). */
final class Trace {
  import Trace._

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  @volatile var evalId: Int = -1
  /** Parent for spans opened on threads with no span of their own. */
  @volatile var root: Option[Long] = None

  def current: Option[Long] = stack.get.headOption

  def span[T](name: String)(body: => T): T = spanWithId(name)(_ => body)

  def spanWithId[T](name: String)(body: Long => T): T = {
    val id = ids.incrementAndGet()
    val p = current
    val ev = evalId
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try body(id)
    finally {
      spans.add(Span(id, p, name, ev, t0, System.nanoTime()))
      stack.set(stack.get.tail)
    }
  }

  /** Starts a span that another thread ends; returns its end callback. */
  def open(name: String, parent: Option[Long]): () => Unit = {
    val id = ids.incrementAndGet()
    val ev = evalId
    val t0 = System.nanoTime()
    () => spans.add(Span(id, parent, name, ev, t0, System.nanoTime()))
  }

  /** Records an already-finished interval (e.g. a Spark job seen by the
    * listener), converting epoch milliseconds to the span clock. */
  def record(name: String, parent: Option[Long], eval: Int, startMs: Long, endMs: Long): Unit = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, parent, name, eval, msToNs(startMs), msToNs(endMs)))
  }

  // one fixed pairing of the two clocks converts listener timestamps
  private val originMs = System.currentTimeMillis()
  private val originNs = System.nanoTime()
  private def msToNs(ms: Long): Long = originNs + (ms - originMs) * 1000000L
  def epochMs(ns: Long): Long = originMs + (ns - originNs) / 1000000L

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time of every span in `of` (ns): its duration minus the part of
    * its interval that its child spans cover. */
  def selfNs(of: Seq[Span]): Map[Long, Double] = {
    val children = all.groupBy(_.parent)
    of.map { s =>
      val kids = children.getOrElse(Some(s.id), Nil)
        .map(k => (math.max(k.start, s.start).toDouble, math.min(k.end, s.end).toDouble))
        .filter { case (a, b) => b > a }
      s.id -> ((s.end - s.start).toDouble - Probe.unionLength(kids))
    }.toMap
  }

  def write(path: java.io.File): Unit = {
    val origin = if (spans.isEmpty) 0L else all.map(_.start).min
    val w = new java.io.PrintWriter(path, "UTF-8")
    try for (s <- all.sortBy(_.start)) w.println(Json.obj(
      "id" -> s.id, "parent" -> s.parent.orNull, "name" -> s.name,
      "eval" -> s.eval, "start_ms" -> (s.start - origin) / 1e6,
      "end_ms" -> (s.end - origin) / 1e6))
    finally w.close()
  }
}

object Trace {
  final case class Span(id: Long, parent: Option[Long], name: String, eval: Int,
                        start: Long, end: Long) {
    def seconds: Double = (end - start) / 1e9
  }
}

/** The engine's recipe evaluator with a span around each public seam
  * (`getRawData` -> `getNormalizedData` -> `getAggregatedData`). The
  * engine's own internal calls dispatch to these overrides, so the spans
  * nest along the engine's real call path with no change in what runs. */
final class TracedBenchmark(recipe: Recipe, spark: SparkSession, memo: CountingMemo,
                            trace: Trace)
    extends Benchmark(recipe, spark, memo) {
  override def getRawData(inputs: Option[Seq[String]]): DataFrame =
    trace.span("benchmark.raw")(super.getRawData(inputs))
  override def getNormalizedData(df0: Option[DataFrame],
                                 inputs: Option[Seq[String]]): DataFrame =
    trace.span("benchmark.normalize")(super.getNormalizedData(df0, inputs))
  override def getAggregatedData(df0: Option[DataFrame],
                                 inputs: Option[Seq[String]]): DataFrame =
    trace.span("benchmark.aggregate")(super.getAggregatedData(df0, inputs))
}

/** The child-recipe memo handed to the engine through `Benchmark`'s public
  * `sharedChildren` argument. Counts references (lookups) and evaluations
  * (misses), and records a `benchmark.child` span from each child's
  * launch until its future completes. */
final class CountingMemo(trace: Trace)
    extends scala.collection.mutable.HashMap[String, Future[(DataFrame, Map[String, Boolean])]] {
  val refs = new AtomicInteger(0)
  val evals = new AtomicInteger(0)

  override def getOrElseUpdate(key: String,
                               op: => Future[(DataFrame, Map[String, Boolean])]
                              ): Future[(DataFrame, Map[String, Boolean])] = {
    refs.incrementAndGet()
    super.getOrElseUpdate(key, {
      evals.incrementAndGet()
      val done = trace.open("benchmark.child", trace.current.orElse(trace.root))
      val f = op
      f.onComplete(_ => done())(scala.concurrent.ExecutionContext.parasitic)
      f
    })
  }
}
