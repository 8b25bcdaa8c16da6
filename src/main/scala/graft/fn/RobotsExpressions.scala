package graft.fn

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, TernaryExpression}
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types._

/** robots.txt (RFC 9309, the Robots Exclusion Protocol) evaluation —
  * the politeness decision a crawl-frontier pipeline applies per
  * (robots body, product token, URL path):
  *
  *  - **Parse** (§2.2): `key: value` lines, `#` comments stripped,
  *    keys case-insensitive, groups formed by consecutive
  *    `User-agent` lines followed by their rules; unknown keys and
  *    malformed lines are skipped (server output is data).
  *  - **Group selection** (§2.2.1): the group(s) whose user-agent
  *    value matches the product token case-insensitively win; the
  *    `*` group applies only when no specific group matched; all
  *    matching groups MERGE.
  *  - **Rule match** (§2.2.2): patterns match path prefixes with `*`
  *    (any octets) and a final `$` (end anchor); the LONGEST pattern
  *    (in octets) wins; on a length tie, Allow wins; an empty
  *    Disallow value matches nothing; no match at all = allowed.
  *
  * The wildcard matcher is a two-pointer greedy scan (no regex, no
  * backtracking blow-up). RobotsSpec pins the RFC's own §2.2.2 /
  * §5 examples plus the group-selection and merge rules; q134 gates
  * the longest-match/allow-wins decision against a GENERIC SQL
  * replay over planted prefix rules.
  */
object RobotsKernels {

  final case class Rule(allow: Boolean, pattern: String)

  /** Effective rule list for `agent` per §2.2.1 (exact
    * case-insensitive product-token match, `*` fallback, matching
    * groups merged in document order).
    */
  /** One pass over the document collecting the exact-group and
    * star-group state (§2.2.1 selection applied at the end): rules,
    * first crawl-delay, and whether a specific group matched at all.
    */
  private final class GroupState {
    val rules = collection.mutable.ArrayBuffer.empty[Rule]
    var delay: Option[Double] = None
  }

  private def parseFor(robots: String, agent: String): (GroupState, Boolean) = {
    val agentLc = agent.toLowerCase(java.util.Locale.ROOT)
    val exact = new GroupState
    val star = new GroupState
    // §2.2.1: the * group applies only when NO specific group matched
    // — a matched-but-empty specific group (whitelist shape) still
    // shadows the * group, so track the sighting independently
    var sawExactGroup = false
    var groupExact = false
    var groupStar = false
    var inAgentRun = false // consecutive user-agent lines extend one group
    // crawled server output: tolerate a UTF-8 BOM glued to the first key
    val body = if (robots.nonEmpty && robots.charAt(0) == '\uFEFF')
      robots.substring(1) else robots
    body.split("\n", -1).foreach { raw =>
      val h = raw.indexOf('#')
      val line = (if (h >= 0) raw.substring(0, h) else raw).trim
      if (line.nonEmpty) {
        val c = line.indexOf(':')
        if (c > 0) {
          val key = line.substring(0, c).trim.toLowerCase(java.util.Locale.ROOT)
          val value = line.substring(c + 1).trim
          key match {
            case "user-agent" =>
              if (!inAgentRun) { groupExact = false; groupStar = false }
              inAgentRun = true
              if (value == "*") groupStar = true
              else if (value.toLowerCase(java.util.Locale.ROOT) == agentLc) {
                groupExact = true
                sawExactGroup = true
              }
            case "allow" | "disallow" =>
              inAgentRun = false
              if (value.nonEmpty) { // empty value matches nothing (§2.2.2)
                val r = Rule(key == "allow", value)
                if (groupExact) exact.rules += r
                if (groupStar) star.rules += r
              }
            case "crawl-delay" =>
              inAgentRun = false
              value.toDoubleOption.filter(_ >= 0).foreach { d =>
                if (groupExact && exact.delay.isEmpty) exact.delay = Some(d)
                if (groupStar && star.delay.isEmpty) star.delay = Some(d)
              }
            case _ => // sitemap etc: not a rule, ends the agent run
              inAgentRun = false
          }
        }
      }
    }
    (if (sawExactGroup) exact else star, sawExactGroup)
  }

  /** Effective rule list for `agent` per §2.2.1 (exact
    * case-insensitive product-token match, `*` fallback, matching
    * groups merged in document order).
    */
  def effectiveRules(robots: String, agent: String): Seq[Rule] =
    parseFor(robots, agent)._1.rules.toSeq

  /** `pattern` against `path`: prefix semantics with `*` (any run,
    * including empty) and a FINAL `$` anchoring the end — i.e. an
    * unanchored pattern is the anchored `pattern*`. Greedy
    * two-pointer glob, O(|path|·stars) worst case, no regex.
    */
  def matches(pattern: String, path: String): Boolean = {
    val anchored = pattern.nonEmpty && pattern.charAt(pattern.length - 1) == '$'
    val core = if (anchored) pattern.substring(0, pattern.length - 1) else pattern
    globFull(if (anchored) core else core + "*", path)
  }

  /** Full-string glob where `*` matches any run (including empty). */
  private def globFull(pat: String, s: String): Boolean = {
    val pn = pat.length; val n = s.length
    var p = 0; var i = 0
    var starP = -1; var starI = -1
    while (i < n) {
      if (p < pn && pat.charAt(p) == '*') { starP = p; starI = i; p += 1 }
      else if (p < pn && pat.charAt(p) == s.charAt(i)) { p += 1; i += 1 }
      else if (starP >= 0) { starI += 1; i = starI; p = starP + 1 }
      else return false
    }
    while (p < pn && pat.charAt(p) == '*') p += 1
    p == pn
  }

  /** The §2.2.2 decision: longest matching pattern wins, Allow wins
    * length ties, no match = allowed.
    */
  def decide(rules: Seq[Rule], path: String): Boolean = {
    var bestLen = -1
    var bestAllow = true
    rules.foreach { r =>
      if (matches(r.pattern, path)) {
        val len = r.pattern.length
        if (len > bestLen || (len == bestLen && r.allow && !bestAllow)) {
          bestLen = len
          bestAllow = r.allow
        }
      }
    }
    bestAllow
  }

  def isAllowed(robots: String, agent: String, path: String): Boolean =
    decide(effectiveRules(robots, agent), path)

  /** `Crawl-delay` for `agent` (the de-facto politeness extension,
    * not in RFC 9309 proper): the matched group's value under the
    * same exact-then-star selection; None when absent or non-numeric.
    */
  def crawlDelay(robots: String, agent: String): Option[Double] =
    parseFor(robots, agent)._1.delay

  /** All `Sitemap:` directives (site-wide per spec — group-independent),
    * in document order.
    */
  def sitemaps(robots: String): Seq[String] = {
    val out = collection.mutable.ArrayBuffer.empty[String]
    val body = if (robots.nonEmpty && robots.charAt(0) == '\uFEFF')
      robots.substring(1) else robots
    body.split("\n", -1).foreach { raw =>
      val h = raw.indexOf('#')
      val line = (if (h >= 0) raw.substring(0, h) else raw).trim
      val c = line.indexOf(':')
      if (c > 0 &&
          line.substring(0, c).trim.toLowerCase(java.util.Locale.ROOT) == "sitemap") {
        val v = line.substring(c + 1).trim
        if (v.nonEmpty) out += v
      }
    }
    out.toSeq
  }
}

/** `robots_allowed(robots_txt, agent, path)` → boolean. */
case class RobotsAllowed(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(StringType, StringType, StringType)
  override def prettyName: String = "robots_allowed"

  override protected def kernel: Expression =
    Kernel.call(RobotsKernels, "isAllowed", BooleanType,
      Kernel.str(first), Kernel.str(second), Kernel.str(third))

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
