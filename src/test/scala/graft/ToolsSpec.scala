package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scripts under `tools/` launch engine mains by class name, which
  * no compiler checks: deleting or renaming a main would strand a
  * script silently. Every `graft.<Class>` a script names must load. */
class ToolsSpec extends AnyFunSuite {
  test("every graft class a tools script names exists") {
    val scripts = new java.io.File("tools").listFiles()
      .filter(f => f.getName.endsWith(".sh") || f.getName.endsWith(".py"))
    val named = scripts.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      """\bgraft\.([A-Z]\w*)""".r.findAllMatchIn(text).map(m => f.getName -> m.group(1))
    }.distinct
    assert(named.map(_._2).toSet.contains("Bench"), s"scan found too little: ${named.toSeq}")
    val missing = named.filter { case (_, cls) =>
      try { Class.forName(s"graft.$cls"); false }
      catch { case _: ClassNotFoundException => true }
    }
    assert(missing.isEmpty, s"scripts name classes that do not exist: ${missing.toSeq}")
  }

  /** The standing registry casts a value by its name, so one name must
    * never be registered with two types: every name is a literal that
    * appears at exactly one call site. */
  test("every StandingState.standing name is a literal used at one call site") {
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val calls = scalaFiles(new java.io.File("src/main")).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      """StandingState\.standing\(\s*\w+\s*,\s*([^,]*),""".r.findAllMatchIn(text)
        .map(m => f.getName -> m.group(1).trim).toSeq
    }
    assert(calls.size >= 30, s"scan found too little: $calls")
    val nonLiteral = calls.filterNot { case (_, n) => n.matches("\"[a-z0-9-]+\"") }
    assert(nonLiteral.isEmpty, s"standing names must be string literals: $nonLiteral")
    val reused = calls.groupBy(_._2).filter(_._2.size > 1)
    assert(reused.isEmpty, s"standing names used at more than one call site: $reused")
  }

  /** Every ledger version lands through one commit tail (sidecars,
    * then the manifest), so the manifest write has one call site. */
  test("the Ledger writes a manifest at exactly one call site") {
    val src = scala.io.Source.fromFile("src/main/scala/graft/etl/Ledger.scala", "UTF-8")
    val text = try src.mkString finally src.close()
    val defs = """def writeManifest\(""".r.findAllMatchIn(text).size
    val calls = """writeManifest\(""".r.findAllMatchIn(text).size - defs
    assert(defs == 1, s"scan found $defs definitions of writeManifest")
    assert(calls == 1, s"writeManifest must have one call site, found $calls")
  }
}
