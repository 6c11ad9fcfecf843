package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, layer: String, durNs: Long) =
    Span(id, parent, layer, s"s$id", 0, 0, 0, durNs)

  test("self time is duration minus direct children") {
    val spans = Seq(
      span(0, -1, "operators", 100),
      span(1, 0, "sources", 30),
      span(2, 0, "sources", 20),
      span(3, 1, "functions", 10),
      span(4, -1, "streaming", 50))
    val self = Spans.selfNs(spans)
    assert(self == Map(0 -> 50L, 1 -> 20L, 2 -> 20L, 3 -> 10L, 4 -> 50L))
    // layer self times add up to the top-level spans' total
    val byLayer = Spans.selfNsByLayer(spans)
    assert(byLayer == Map("operators" -> 50L, "sources" -> 40L, "functions" -> 10L, "streaming" -> 50L))
    assert(byLayer.values.sum == 150L)
  }

  test("self time never goes negative when children overrun the parent clock") {
    val spans = Seq(span(0, -1, "operators", 10), span(1, 0, "sources", 12))
    assert(Spans.selfNs(spans)(0) == 0L)
  }

  test("span json carries name, parent and op id") {
    val j = Span(3, 1, "sources", "writeParquetTable", 7, 10, 20, 5).toJson
    assert(j == """{"id":3,"parent":1,"layer":"sources","name":"writeParquetTable","op":7,""" +
      """"start_ms":10,"end_ms":20,"dur_ns":5}""")
  }
}
