package graft.text

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Multi-pattern substring scan (Aho-Corasick) — blocklist filtering at
  * corpus scale: term/URL blocklists (the UT1-style lists production
  * curation pipelines apply before anything else) carry hundreds to
  * thousands of patterns, and scanning 100 TB once per pattern is the
  * difference between one pass and a thousand. The automaton matches
  * ALL patterns in ONE linear walk: goto edges for the trie, failure
  * links for the longest proper suffix that is also a trie prefix, and
  * output lists pre-merged down the failure chain so nested patterns
  * (`tab` inside `table`, `an` inside `scan`) are counted at the node
  * where they end — dropping the failure-output merge undercounts
  * exactly those, which is what the q292 oracle pins.
  *
  * The automaton is built once per plan on the driver (patterns are a
  * config-sized list) and ships to executors inside the UDF closure —
  * the broadcast-small-dimension pattern, applied to a state machine.
  * Matching is amortized O(text + matches): each char follows at most
  * one goto after a chain of failure hops paid for by prior gotos.
  */
final class AhoCorasick private (
    goto_ : Array[scala.collection.immutable.Map[Char, Int]],
    fail: Array[Int],
    out: Array[List[Int]],
    val numPatterns: Int) extends Serializable {

  /** Per-pattern occurrence counts (overlaps and nested matches all
    * counted — the "every position where the pattern ends" semantics
    * a position-scan oracle reproduces). */
  def countMatches(text: String): Array[Int] = {
    val counts = new Array[Int](numPatterns)
    if (text == null) return counts
    var state = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      var s = state
      while (s != 0 && !goto_(s).contains(c)) s = fail(s)
      state = goto_(s).getOrElse(c, 0)
      var o = out(state)
      while (o.nonEmpty) { counts(o.head) += 1; o = o.tail }
      i += 1
    }
    counts
  }
}

object AhoCorasick {

  /** Build the automaton: trie, then BFS failure links with output
    * lists merged from each node's failure target (processed first by
    * BFS order, so the merge is a single prepend). */
  def build(patterns: Seq[String]): AhoCorasick = {
    require(patterns.nonEmpty && patterns.forall(_.nonEmpty),
      "patterns must be non-empty strings")
    val goto_ = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.Map.empty[Char, Int])
    val ownOut = scala.collection.mutable.ArrayBuffer(List.empty[Int])
    patterns.zipWithIndex.foreach { case (p, pid) =>
      var node = 0
      p.foreach { c =>
        node = goto_(node).getOrElseUpdate(c, {
          goto_ += scala.collection.mutable.Map.empty[Char, Int]
          ownOut += Nil
          goto_.length - 1
        })
      }
      ownOut(node) = pid :: ownOut(node)
    }
    val n = goto_.length
    val fail = new Array[Int](n)
    val out = new Array[List[Int]](n)
    out(0) = ownOut(0)
    val queue = scala.collection.mutable.Queue.empty[Int]
    goto_(0).values.foreach { v => fail(v) = 0; out(v) = ownOut(v); queue += v }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      goto_(u).foreach { case (c, v) =>
        var f = fail(u)
        while (f != 0 && !goto_(f).contains(c)) f = fail(f)
        fail(v) = if (goto_(f).contains(c) && goto_(f)(c) != v) goto_(f)(c) else 0
        out(v) = ownOut(v) ::: out(fail(v))
        queue += v
      }
    }
    new AhoCorasick(goto_.map(_.toMap).toArray, fail, out, patterns.length)
  }

  /** `multi_match(text)` → (total matches, distinct patterns present):
    * the per-doc blocklist verdict pair. */
  def countsUdf(patterns: Seq[String]): UserDefinedFunction = {
    val ac = build(patterns)
    udf { (text: String) =>
      val c = ac.countMatches(text)
      var total = 0L
      var distinct = 0L
      var i = 0
      while (i < c.length) {
        total += c(i); if (c(i) > 0) distinct += 1; i += 1
      }
      (total, distinct)
    }
  }
}
