package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class ScaleHarnessSpec extends AnyFunSuite {

  test("a failing check prints invariants_ok false with its name, then throws") {
    val out = new java.io.ByteArrayOutputStream
    val e = intercept[IllegalArgumentException](Console.withOut(out)(
      ScaleHarness.report("demo", Seq("k" -> 2),
        Seq("holds" -> true, "breaks" -> false))))
    val line = new ObjectMapper().readTree(out.toString("UTF-8").trim)
    assert(line.get("metric").asText == "demo" && line.get("k").asInt == 2)
    assert(!line.get("invariants_ok").asBoolean)
    assert(line.get("failed").elements.asScala.map(_.asText).toSeq ==
      Seq("breaks"))
    assert(e.getMessage.contains("breaks"))
  }

  test("the exponent of t1 = 1 s, t4 = 4 s at k = 4 is 1.0") {
    assert(ScaleHarness.exponent(1.0, 4.0, 4) == 1.0)
  }

  test("report times are rounded to 3 decimals") {
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out)(ScaleHarness.report("demo",
      Seq("sec" -> ScaleHarness.secs("build" -> 1.23456, "probe" -> 0.0004)),
      Seq("holds" -> true)))
    assert(out.toString("UTF-8").trim ==
      """{"metric":"demo","sec":{"build":1.235,"probe":0.0},""" +
        """"invariants_ok":true,"failed":[]}""")
  }

  test("every graft tool README.md and SCALING.md cite has a main method") {
    val cited = Seq("README.md", "SCALING.md").flatMap { doc =>
      val text = Files.readString(Paths.get(doc))
      val run = """runMain\s+graft\.(\w+)""".r
        .findAllMatchIn(text).map(_.group(1))
      val headings = text.linesIterator.filter(_.startsWith("#"))
        .flatMap("""graft\.(\w+)""".r.findAllMatchIn(_).map(_.group(1)))
      run ++ headings
    }.distinct
    assert(cited.contains("Main") && cited.contains("Scale"), cited)
    val missing = cited.filterNot { name =>
      scala.util.Try(Class.forName(s"graft.$name$$")
        .getMethod("main", classOf[Array[String]])).isSuccess
    }
    assert(missing.isEmpty, s"documented but not runnable: $missing")
  }
}
