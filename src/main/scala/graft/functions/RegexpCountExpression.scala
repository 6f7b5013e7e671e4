package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Count of non-overlapping regex matches — `regexp_count` as a plain
  * counting loop.
  *
  * Why a kernel when `functions.regexp_count` exists: Spark implements
  * regexp_count as `size(regexp_extract_all(...))`, whose generated code
  * materializes EVERY match into an ArrayList of fresh UTF8Strings just
  * to take the list's size — a per-match allocation on what is, for this
  * engine, the hottest text path (tokenCount and the stopword/marker
  * counters run once per corpus document in every quality/language/
  * curation query), and ~350 bytecodes of inline matcher machinery PER
  * CALL SITE. x63's fused curation projection carries ~10 such sites;
  * the inlined extract-all bodies put its one whole-stage unit at 6,773
  * bytecodes — inside the warn band of the 8,000-bytecode HotSpot JIT
  * cliff the round-16 PLANS audit exists to catch. This loop form is one
  * static call per site, allocates nothing per match, and returns the
  * identical count: both forms count `Matcher.find()` successions, so
  * zero-length-match advancement and non-overlap semantics are the JDK's
  * in both (TextFunctionsSpec pins equality with the builtin, including
  * the zero-length and unicode cases).
  *
  * The pattern may be a column. Its compilation is change-checked
  * against the previous pattern value (the builtin regexp family's own
  * discipline) in a [[PatternCache]] state slot, so foldable patterns —
  * every call site in this engine — compile exactly once per task. */
object RegexpCountLoop extends Kernel("regexp_count_loop", Seq(StringType, StringType),
    "(string, string) inputs", IntegerType,
    stateTypes = Seq(classOf[PatternCache].getName)) {

  /** Column form: count of non-overlapping matches of `pattern`. */
  def apply(text: Column, pattern: Column): Column =
    GraftColumnBridge.column(KernelExpression(this,
      Seq(GraftColumnBridge.expression(text), GraftColumnBridge.expression(pattern))))

  override def state(bcs: Seq[Broadcast[_]]): Seq[AnyRef] = Seq(new PatternCache)

  def eval(in: Array[Any], st: Array[AnyRef]): Any =
    kernel(in(0).asInstanceOf[UTF8String], in(1).asInstanceOf[UTF8String],
      st(0).asInstanceOf[PatternCache])

  def kernel(s: UTF8String, p: UTF8String, cache: PatternCache): Int = {
    if (cache.compiled == null || !p.equals(cache.last)) {
      cache.last = p.clone()
      cache.compiled = java.util.regex.Pattern.compile(cache.last.toString)
    }
    val m = cache.compiled.matcher(s.toString)
    var n = 0
    while (m.find()) n += 1
    n
  }
}

/** The last pattern [[RegexpCountLoop]] compiled, and its compiled form. */
final class PatternCache {
  var last: UTF8String = _
  var compiled: java.util.regex.Pattern = _
}
