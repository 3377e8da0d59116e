package graft.perfbench

import graft.correct.{Alt, CompiledModel, Corrector}
import graft.wfst.Wfst

/** Replays missed windows through the public `Wfst` calls in
  * `Corrector.processWindow`'s order, timing each call at the
  * reference's timer boundaries (lib/latticegen.py:43,52-53): error
  * compose(+prune), rmEpsilon, lexicon compose(+rejection union),
  * enumeration. Every replayed window's alternatives must equal
  * `Corrector.windowAlternatives(cache = null)`, so the split never times
  * a different program. */
object Replay {

  final case class Result(windows: Int, errorComposeNs: Long, rmepsNs: Long,
      lexiconComposeNs: Long, enumerateNs: Long, productStates: Long,
      productArcs: Long, epsFallbacks: Int, mismatches: Seq[String])

  def run(windows: Seq[String], m: CompiledModel): Result = {
    var ec, re, lc, en, states, arcs = 0L
    var fallbacks = 0
    val bad = Seq.newBuilder[String]
    for (win <- windows) {
      var t = System.nanoTime()
      def lap(): Long = { val n = System.nanoTime(); val d = n - t; t = n; d }
      var w = Wfst.acceptor(win)
      for (fst <- m.errorFst) {
        w = w.composeBoundedPruned(fst, m.pruningWeight, m.pruningWeight)
        ec += lap()
        states += w.numStates; arcs += w.numArcs
        w = w.rmEpsilon(trim = false)
        re += lap()
      }
      w = w.composePruned(m.windowFst, m.pruningWeight)
      if (!win.contains(' ')) {
        val len = win.codePointCount(0, win.length)
        w = w.union(Wfst.acceptor(win, m.rejectionWeight * (len + 2)))
      }
      lc += lap()
      states += w.numStates; arcs += w.numArcs
      val outs =
        try w.distinctOutputs()
        catch { case _: IllegalStateException =>
          fallbacks += 1
          w.rmEpsilon(trim = false).distinctOutputs()
        }
      en += lap()
      val split = outs.map { case (s, wt) => Alt(s, wt) }
      if (split != Corrector.windowAlternatives(win, m, null)) bad += win
    }
    Result(windows.size, ec, re, lc, en, states, arcs, fallbacks, bad.result())
  }
}
