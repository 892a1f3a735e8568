package graft

import graft.testutil.SourceScan
import org.scalatest.funsuite.AnyFunSuite

/** Only reachable code lives in `src/main`: a member that nothing but a
  * test calls belongs in `src/test` or nowhere. The guard matches names,
  * so it is a tripwire and not a proof: a member used only in its own
  * body, or sharing its name with another member or a local, passes. */
class ReachabilitySpec extends AnyFunSuite {

  test("every public or private[graft] def, object and class in src/main is " +
    "referenced outside its own definition, in src/main or perfbench") {
    val main = SourceScan.scalaFiles("src/main/scala").map(f => f -> SourceScan.codeLines(f))
    // perfbench is the benchmark: what it calls (Bench.planFingerprint,
    // the workloads' operators) is reachable
    val bench = SourceScan.scalaFiles("perfbench/src").map(SourceScan.codeLines)
    val lines = main.flatMap(_._2) ++ bench.flatten
    // a string literal counts: codegen bodies name their kernels inside
    // strings (VectorKernels.jlProject)
    val uses = lines.flatMap("""[A-Za-z_]\w*""".r.findAllIn(_))
      .groupMapReduce(identity)(_ => 1)(_ + _)
    val declaresAny = """\b(?:def|object|class|trait)\s+([A-Za-z_]\w*)""".r
    val sites = lines.flatMap(l => declaresAny.findAllMatchIn(l).map(_.group(1)))
      .groupMapReduce(identity)(_ => 1)(_ + _)
    // public or private[graft], not an override; annotations may lead
    val checked = """^(?:@\w+(?:\([^)]*\))?\s+)*((?:(?:final|implicit|lazy|override|sealed|""" +
      """abstract|case|private\[graft\])\s+)*)(def|object|class|trait)\s+([A-Za-z_]\w*)"""
    val decl = checked.r.unanchored

    // The allow-list, one reason each:
    //  - `main` and the object holding it: `sbt runMain` enters there;
    //  - `apply`/`unapply`: called by the syntax `X(...)` and pattern
    //    matches, never by name; overrides (excluded above): called
    //    through the type they override;
    //  - the public members of `object Streaming`: the streaming API, the
    //    19 stateful twins and their stateless siblings, which an
    //    application wires into its own query;
    //  - `DefaultSource`: Spark loads `<package>.DefaultSource` by
    //    reflection for `format("graft.sources.socrata")`.
    val byName = Set("main", "apply", "unapply", "DefaultSource")
    val decls = main.flatMap { case (f, code) =>
      val entry = code.lastIndexWhere({
        case decl(_, "object", _) => true
        case _ => false
      }, code.indexWhere(_.contains("def main(")))
      code.zipWithIndex.collect {
        case (decl(mods, _, name), i) if i != entry => (f.getPath, i, mods, name)
      }
    }
    assert(decls.exists(_._4 == "Materialize"), "the declaration scan matched nothing")
    val unreached = decls.collect {
      case (path, i, mods, name)
          if !mods.contains("override") && !byName(name) &&
            !(path.endsWith("streaming/Streaming.scala") && !mods.contains("private")) &&
            uses.getOrElse(name, 0) <= sites.getOrElse(name, 0) =>
        s"$path:${i + 1} $name"
    }
    assert(bench.nonEmpty)
    assert(unreached.isEmpty,
      s"reached only from tests (move it into src/test) or from nowhere (delete it):\n" +
        unreached.mkString("\n"))
  }
}
