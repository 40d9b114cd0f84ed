package graft

import org.scalatest.funsuite.AnyFunSuite

/** ScaleProbe's probe table and dispatch; no probe runs here. */
class ScaleProbeSpec extends AnyFunSuite {
  private val names = ScaleProbe.probes.map(_.name)

  test("probe table: 27 uniquely named probes, each named in the usage text") {
    assert(names.size == 27)
    assert(names.distinct.size == names.size, s"duplicate names in $names")
    val words = ScaleProbe.usage.split("[^A-Za-z0-9]+").toSet
    assert(names.filterNot(words).isEmpty,
      s"usage omits ${names.filterNot(words)}")
  }

  test("an unknown probe name prints the usage and returns a non-zero code") {
    val err = new java.io.ByteArrayOutputStream()
    val code = Console.withErr(err)(ScaleProbe.run(Array("ivfqp", "20000")))
    assert(code != 0)
    assert(err.toString("UTF-8").trim == ScaleProbe.usage.trim)
  }

  test("no or numeric arguments select the default probe, a mode name its probe") {
    val default = ScaleProbe.probes.head
    assert(ScaleProbe.select(Array.empty[String]).contains(default))
    assert(ScaleProbe.select(Array("50", "20")).contains(default))
    ScaleProbe.probes.tail.foreach(p =>
      assert(ScaleProbe.select(Array(p.name, "20000")).contains(p), p.name))
  }
}
