package graft

import org.scalatest.funsuite.AnyFunSuite

/** Lint pinning where `traverse/Traversal.scala` builds as-label columns.
  *
  * Two kinds of code touch them. Source provenance tags the frontier with a
  * reserved `as(tag)` before a sub-traversal runs and reads the source id
  * back from `_as_<tag>_id`; every by()/local()/project()/where() sub-step
  * does that through `perSource` (and `subRun`, which calls it). Binding
  * resolution reads `_as_<name>_id` / `_as_<name>_ids` for select, where,
  * dedup, match and addE; that goes through `bindingId`/`popBinding`. A
  * method that hand-rolls either copies the id-deduplication or the
  * "no as('n') label" check, so a new site cannot land outside the helpers
  * without a visible edit here. Like [[CheckpointLintSpec]] this reads
  * [[EngineSources]].
  *
  * A site is a code line that
  *   - builds an as-label column name: a string literal that starts with
  *     `_as_` and goes on (the bare `"_as_"` prefix, used to recognise carry
  *     columns, is not a build);
  *   - tags this traversal: `this.as(`, a receiver-less `as(` call, or a
  *     step applied to a freshly tagged traversal (`step(x.as(`). Column
  *     aliases (`col(..).as("__x")`) have a Column receiver, and `as('n')`
  *     in a message is text, so neither is a site.
  * Each site belongs to the class member `def` it sits in.
  */
class ProvenanceLintSpec extends AnyFunSuite {

  private val File = "traverse/Traversal.scala"

  // member def -> why it may build as-label columns
  private val helpers: Map[String, String] = Map(
    "as" -> "the public as() step: creates `_as_<name>_id` and the reuse list `_as_<name>_ids`",
    "perSource" -> "the one provenance step: tags the (deduplicated) frontier, reads the source id",
    "bindingId" -> "the binding resolver: `_as_<name>_id` and the no-as-label check",
    "popBinding" -> "the binding resolver: Pop over `_as_<name>_id` / `_as_<name>_ids`")

  private val sitePatterns = Seq(
    "s?\"_as_(?!\")".r,
    "\\bthis\\.as\\(".r,
    "(?<![\\w.])(?<!def )as\\((?!')".r,
    "[sS]tep\\w*\\(\\s*\\w+\\.as\\(".r)
  private val memberDef = "^  (?:[\\w\\[\\]]+ )*def (\\w+)".r

  private case class Site(owner: Option[String], lineNo: Int, line: String)

  private def sites(): Seq[Site] = {
    val lines = EngineSources.codeLines().filter(_._1 == File).sortBy(_._2)
    assert(lines.nonEmpty, s"no code lines read from $File")
    var owner: Option[String] = None
    lines.flatMap { case (_, no, raw) =>
      memberDef.findFirstMatchIn(raw).foreach(m => owner = Some(m.group(1)))
      if (raw.startsWith("}")) owner = None
      if (sitePatterns.exists(_.findFirstIn(raw).isDefined)) Some(Site(owner, no, raw.trim)) else None
    }
  }

  test("as-label columns are built only inside the provenance and binding helpers") {
    val stray = sites().filterNot(_.owner.exists(helpers.contains))
    assert(stray.isEmpty,
      "as-label column builds or reserved-tag as() calls outside " +
        helpers.keys.toSeq.sorted.mkString(", ") +
        " (route provenance through perSource/perSourceValue/subRun and bindings through " +
        "popBinding/bindingId):\n" +
        stray.map(s => s"  $File:${s.lineNo} (in ${s.owner.getOrElse("<no def>")})  ${s.line}")
          .mkString("\n"))
  }

  test("every listed helper is live and holds a site") {
    val owners = sites().flatMap(_.owner).toSet
    val stale = helpers.keySet -- owners
    assert(stale.isEmpty, s"helpers with no site (renamed or removed? update the list): $stale")
  }
}
