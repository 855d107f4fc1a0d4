package graft.streaming

import graft.util.IndexManifest
import org.scalatest.funsuite.AnyFunSuite

/** The staged-kind table covers the manifest vocabulary exactly: a new
  * `IndexManifest.Kind*` without a table entry fails here. */
class StagedKindsSpec extends AnyFunSuite {

  /** Every `Kind*` constant declared on the manifest object. */
  private val manifestKinds: Set[String] =
    IndexManifest.getClass.getDeclaredMethods.toSeq
      .filter(m => m.getName.startsWith("Kind") && m.getParameterCount == 0 &&
        m.getReturnType == classOf[String])
      .map(_.invoke(IndexManifest).asInstanceOf[String]).toSet

  test("every IndexManifest kind has one table entry with an append and a compactor") {
    assert(manifestKinds.size == 6, manifestKinds)
    val kinds = StagedKinds.all.map(_.kind)
    assert(kinds.distinct == kinds, "one entry per kind")
    assert(kinds.toSet == manifestKinds)
    StagedKinds.all.foreach { e =>
      assert(e.append != null && e.compact != null, e.kind)
    }
  }

  test("the IVF kinds, and only they, carry a generation layout") {
    val ivf = StagedKinds.all.filter(_.ivf.nonEmpty)
    assert(ivf.map(_.kind).toSet ==
      Set(IndexManifest.KindIvfFlat, IndexManifest.KindIvfPq))
    val gen = IndexManifest(IndexManifest.KindIvfFlat, 1, Map("gen" -> "3"),
      Map.empty, 0L)
    assert(StagedKinds.of(gen).ivf.get.live(gen) == ("vecs.g3", "meta.g3"))
    val unknown = gen.copy(kind = "no_such_kind")
    intercept[IllegalArgumentException](StagedKinds.of(unknown))
  }
}
