package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-tree rules the compiler cannot check: engine code never
  * depends on the dev tools, every SparkSession comes from [[Session]],
  * so the plans Verify checks are the plans Bench times, kernel
  * expressions keep one evaluation path ([[graft.fn.KernelCall]]), and
  * fixtures are opened relative to the repository root, so a second
  * checkout reads its own `data/`.
  */
class SourceGuardSpec extends AnyFunSuite {

  private def sources(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found (cwd must be the repo root)")
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("no engine code references the tools package; only Session builds a SparkSession") {
    val all = sources("src/main/scala") ++ sources("src/test/scala")
    val toolsDir = Paths.get("src/main/scala/graft/tools")
    // the qualified package name, a package-relative reference or
    // import from inside package graft, and a renaming import
    val toolsRef = """graft\.tools\b|\btools\.[A-Z]|import\s+tools\b|\btools\s*=>""".r
    val builder = """SparkSession\s*\.\s*[bB]uilder""".r
    val offenders = all.flatMap { p =>
      val text = Files.readString(p)
      val tools =
        if (!p.startsWith(toolsDir) && toolsRef.findFirstIn(text).isDefined)
          Some(s"$p references the tools package")
        else None
      val session =
        if (p.getFileName.toString != "Session.scala" &&
            builder.findFirstIn(text).isDefined)
          Some(s"$p builds its own SparkSession (use graft.Session)")
        else None
      tools ++ session
    }
    if (offenders.nonEmpty) fail(offenders.mkString("\n"))
  }

  test("kernel expressions generate code through KernelCall, except the named few") {
    // every other expression in graft.fn makes its one static call
    // through KernelCall, so eval and codegen share one path
    val handWritten = Map(
      "KernelCall" -> "the shared path itself",
      "NearestCentroidCos" -> "holds the centroid matrix as a reference object",
      "NearestCentroidScore" -> "holds the centroid matrix as a reference object",
      "BpeEncode" -> "holds the merge ranks as a reference object",
      "CharWindowHits" -> "holds a broadcast window-hash set as a reference object",
      "TrigramSbNll" -> "holds the count tables as reference objects",
      "BigramNll" -> "holds the count tables as reference objects",
      "UnigramNll" -> "holds the count table as a reference object",
      "ParityMinhashSig" -> "holds the hash coefficients as reference objects",
      "UrlNormalize" -> "holds an optional broadcast suffix set as a reference object",
      "RegisteredDomainPsl" -> "calls a method of a broadcast rule set, not a static method",
      "VincentyKm" -> "the flagship distance; its generated code stays byte-identical",
      "Nearest1dKey" -> "the flagship as-of join; its generated code stays byte-identical")
    val owner = """(?:class|trait)\s+(\w+)""".r
    val offenders = sources("src/main/scala/graft/fn").flatMap { p =>
      val text = Files.readString(p)
      """def\s+doGenCode""".r.findAllMatchIn(text).map { m =>
        val cls = owner.findAllMatchIn(text.substring(0, m.start)).map(_.group(1)).toSeq.lastOption
        (p, cls.getOrElse("?"))
      }.filterNot { case (_, cls) => handWritten.contains(cls) }
        .map { case (p, cls) => s"$p: $cls writes its own doGenCode (mix in KernelCall)" }
    }
    if (offenders.nonEmpty) fail(offenders.mkString("\n"))
  }

  test("no source names the checkout by an absolute path") {
    // a string literal that starts with this checkout's absolute path,
    // or an absolute path into one of the repository's top-level dirs
    val here = java.util.regex.Pattern.quote(Paths.get("").toAbsolutePath.toString)
    val absolute = s""""(?:$here|/[^"\\s]*/(?:data|src|perfbench|scripts|plans)/)""".r
    val offenders = (sources("src/main/scala") ++ sources("src/test/scala")).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if absolute.findFirstIn(line).isDefined =>
          s"$p:${i + 1}: absolute checkout path (open fixtures as \"data/...\"): ${line.trim}"
      }
    }
    if (offenders.nonEmpty) fail(offenders.mkString("\n"))
  }
}
