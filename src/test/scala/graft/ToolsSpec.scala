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
}
