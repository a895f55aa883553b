package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  test("the same seed gives byte-identical inputs") {
    assert(Gen.digest(7) == Gen.digest(7))
  }

  test("a different seed gives different inputs") {
    assert(Gen.digest(7) != Gen.digest(8))
  }

  test("every workload's inputs depend on the seed") {
    assert(Gen.dashboardSeries(1).map(_.vs.toSeq) != Gen.dashboardSeries(2).map(_.vs.toSeq))
    assert(Gen.dashboardQueries(1, 50) != Gen.dashboardQueries(2, 50))
    assert(Gen.ingestHistory(1).map(_.vs.toSeq) != Gen.ingestHistory(2).map(_.vs.toSeq))
    assert(Gen.ingestRound(1, 0, 60).map(_.vs.toSeq) != Gen.ingestRound(2, 0, 60).map(_.vs.toSeq))
    assert(Gen.corpus(1)._1 != Gen.corpus(2)._1)
  }

  test("generated sizes match the documented workload shapes") {
    val dash = Gen.dashboardSeries(3)
    assert(dash.size == 108)
    assert(dash.map(_.ts.length).sum == 1036800)
    assert(dash.forall(s => s.ts.sliding(2).forall(p => p(1) > p(0))))
    val (docs, clusters) = Gen.corpus(3)
    assert(clusters.size == Gen.PlantedClusters)
    assert(docs.size == Gen.BaseDocs + clusters.map(_.ids.size - 1).sum)
    assert(docs.map(_.id).distinct.size == docs.size)
  }

  test("the query mix is the fixed template rotation for every seed") {
    Seq(1L, 2L).foreach { seed =>
      val qs = Gen.dashboardQueries(seed, 60)
      assert(qs.map(_.template) == (0 until 60).map(i => Gen.Templates(i % Gen.Templates.size)))
      assert(qs.forall(q => q.start >= Gen.T0 && q.end <= Gen.T0 + Gen.DashSpanHours * Gen.HourMs))
    }
  }

  test("every block mixes the windows and 3 blocks cover every (template, window)") {
    val t = Gen.Templates.size
    val qs = Gen.dashboardQueries(5, 6 * t)
    def window(q: Gen.Query) = if (q.instant) -1L else q.end - q.start
    qs.grouped(t).foreach { block =>
      assert(block.map(_.template) == Gen.Templates)
      assert(block.filterNot(_.instant).map(window).toSet == Gen.Windows.map(_._1).toSet)
    }
    qs.grouped(3 * t).foreach { blocks =>
      val ranged = blocks.filterNot(_.instant)
      assert(ranged.map(q => (q.template, window(q))).toSet.size == ranged.size)
    }
  }
}
