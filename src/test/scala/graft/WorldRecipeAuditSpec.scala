package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** Fail-safe backstop for the [[graft.fixtures.WorldCache]] owner-stamp
  * invariant (r16 ADVICE): a world-build lambda may call only engine
  * packages plus code in its OWN file — a helper in another EXCLUDED
  * file (graft.queries / graft.tools / Bench / Verify / SparkEntry) is
  * invisible to both stamp components and must be hand-declared via
  * `alsoOwners`, or an edit to the helper serves the cached world
  * STALE with no failure signal. That convention was previously
  * enforced only by a once-per-round human audit; this spec makes it
  * break loudly instead of silently.
  *
  * Method: source-level. For every `WorldCache.dir(` call site in
  * src/main, extract the argument list and the build-lambda body
  * (balanced-delimiter scan), collect the owners declared as
  * `X.getClass`, and flag any identifier in the lambda body that names
  * a top-level object/class declared in a DIFFERENT excluded file and
  * is not among the declared owners. A name inside a string or comment
  * can false-positive; the remedy (declare it via alsoOwners) is
  * harmless, so the audit errs loud. Limit, documented: a SAME-file
  * helper that itself calls into another excluded file is not traced —
  * the invariant doc requires lambdas (and their same-file helpers) to
  * stay within engine + own file. */
class WorldRecipeAuditSpec extends AnyFunSuite {
  import SourceTree.{readAll, scalaFiles}

  /** index just past the matching close delimiter for the open at `i`. */
  private def balancedEnd(s: String, i: Int, open: Char, close: Char): Int = {
    require(s.charAt(i) == open, s"expected '$open' at $i")
    var depth = 0
    var j = i
    while (j < s.length) {
      val c = s.charAt(j)
      if (c == open) depth += 1
      else if (c == close) { depth -= 1; if (depth == 0) return j + 1 }
      j += 1
    }
    fail(s"unbalanced '$open' starting at offset $i")
  }

  test("every world-build lambda declares its cross-file excluded dependencies") {
    val mainRoot = new File("src/main/scala/graft")
    assert(mainRoot.isDirectory, "audit must run from the repo root")

    // the excluded set mirrors WorldCache.inSharedRecipe: these files'
    // bytecode is NOT in the shared engine stamp
    val excludedFiles =
      scalaFiles(new File(mainRoot, "queries")) ++
        scalaFiles(new File(mainRoot, "tools")) ++
        Seq("Bench.scala", "Verify.scala", "SparkEntry.scala")
          .map(new File(mainRoot, _)).filter(_.isFile)
    val declRe =
      """(?m)^\s*(?:private\s+|final\s+|abstract\s+|sealed\s+|case\s+)*(?:object|class|trait)\s+([A-Za-z_]\w*)""".r
    val nameToFile: Map[String, File] = excludedFiles.flatMap { f =>
      declRe.findAllMatchIn(readAll(f)).map(_.group(1) -> f)
    }.toMap

    val ownerRe = """([A-Za-z_][\w.]*)\.getClass""".r
    var sites = 0
    val violations = Seq.newBuilder[String]
    for (f <- scalaFiles(mainRoot)) {
      val src = readAll(f)
      var at = src.indexOf("WorldCache.dir(")
      while (at >= 0) {
        sites += 1
        val argsStart = at + "WorldCache.dir".length
        val argsEnd = balancedEnd(src, argsStart, '(', ')')
        val args = src.substring(argsStart, argsEnd)
        var k = argsEnd
        while (k < src.length && src.charAt(k).isWhitespace) k += 1
        assert(k < src.length && src.charAt(k) == '{',
          s"${f.getName}: WorldCache.dir call at offset $at not followed " +
            "by a brace-delimited build lambda — extend the audit parser " +
            "before changing the call style")
        val bodyEnd = balancedEnd(src, k, '{', '}')
        val body = src.substring(k, bodyEnd)
        val declared = ownerRe.findAllMatchIn(args)
          .map(_.group(1).split('.').last).toSet
        for ((name, defFile) <- nameToFile
             if defFile.getCanonicalPath != f.getCanonicalPath
             if !declared.contains(name)
             if ("""\b""" + name + """\b""").r.findFirstIn(body).isDefined)
          violations += s"${f.getName} world-build lambda (offset $at) " +
            s"references $name (${defFile.getName}) without declaring it " +
            "via alsoOwners — an edit to that file would serve this " +
            "cached world STALE"
        at = src.indexOf("WorldCache.dir(", bodyEnd)
      }
    }
    assert(sites >= 12, s"expected the known call sites, found $sites — " +
      "if dir() moved or was renamed, update this audit with it")
    val v = violations.result()
    assert(v.isEmpty, v.mkString("\n"))
  }
}
