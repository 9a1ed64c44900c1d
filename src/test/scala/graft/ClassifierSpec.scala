package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ml.{BoostConfig, Classifier, GradientBoostedClassifier,
  SoftmaxClassifier}

/** The pluggable-trainer contract (M2/M3/M5): both implementations must
  * train from the same (label, features) matrix, round-trip the model
  * through bytes, and batch-score to class-probability vectors — the
  * trait seam that makes swapping in xgboost4j a one-class change. */
class ClassifierSpec extends AnyFunSuite with SparkSpec {

  // three linearly separable classes in 4-d (seeded, deterministic)
  private def sample(): Array[(Int, Array[Float])] = {
    val rnd = new scala.util.Random(7)
    Array.tabulate(300) { i =>
      val c = i % 3
      val base = Array(0f, 0f, 0f, 0f)
      base(c) = 10f
      (c, base.map(_ + rnd.nextFloat()))
    }
  }

  private def contract(clf: Classifier): Unit = {
    val rows = sample()
    val model = clf.train(rows)
    assert(model.nonEmpty)

    val probs = clf.scoreBatch(model, rows.iterator.map(_._2)).toArray
    assert(probs.length == rows.length)
    assert(probs.forall(_.length == 9))
    probs.foreach { p =>
      val s = p.map(_.toDouble).sum
      assert(math.abs(s - 1.0) < 1e-3)
    }
    // separable data: argmax recovers the label
    val acc = probs.zip(rows).count { case (p, (l, _)) =>
      p.indexOf(p.max) == l
    }.toDouble / rows.length
    assert(acc > 0.95, s"accuracy $acc")

    // deterministic scoring under re-run (task-retry idempotency)
    val again = clf.scoreBatch(model, rows.iterator.map(_._2)).toArray
    assert(probs.zip(again).forall { case (a, b) => a.sameElements(b) })
  }

  test("softmax classifier satisfies the trainer contract") {
    contract(new SoftmaxClassifier())
  }

  test("gradient-boosted classifier satisfies the trainer contract") {
    contract(new GradientBoostedClassifier(
      BoostConfig(numRound = 60, maxDepth = 3)))
  }

  // The reference's watchlist protocol (tile.py:287-331): train/eval
  // split, per-round eval mlogloss, stop when no improvement for
  // early_stopping_rounds. Random labels make eval loss bottom out
  // fast, so the stop MUST fire long before num_round.
  test("early stopping fires on the eval watchlist (M2 protocol)") {
    val rnd = new scala.util.Random(11)
    val rows = Array.tabulate(400) { _ =>
      (rnd.nextInt(3), Array.fill(4)(rnd.nextFloat()))
    }
    val clf = new GradientBoostedClassifier(BoostConfig(
      numRound = 500, earlyStoppingRounds = 10, numClass = 3, maxDepth = 3))
    val model = clf.train(rows)
    val rep = clf.lastReport
    assert(rep.roundsRun < 500, s"ran ${rep.roundsRun} rounds — never stopped")
    assert(rep.roundsRun - 1 - rep.bestRound >= 10) // 10 stale rounds seen
    assert(rep.evalHistory.length == rep.roundsRun)
    assert(rep.bestScore == rep.evalHistory.min)
    // best_ntree_limit scoring: the model keeps trees only up to the
    // best round, not the stale tail
    assert(clf.treeCount(model) == (rep.bestRound + 1) * 3)
  }

  test("rounds/depth knobs change the model (reference config surface)") {
    // XOR labels: depth-1 stumps cannot express the boundary, so the
    // maxDepth knob must change the learned trees
    val rnd = new scala.util.Random(5)
    val rows = Array.tabulate(400) { _ =>
      val a = rnd.nextFloat(); val b = rnd.nextFloat()
      val l = (if (a > 0.5f) 1 else 0) ^ (if (b > 0.5f) 1 else 0)
      (l, Array(a, b, rnd.nextFloat(), rnd.nextFloat()))
    }
    def train(c: BoostConfig): (GradientBoostedClassifier, Array[Byte]) = {
      val clf = new GradientBoostedClassifier(c)
      (clf, clf.train(rows))
    }
    // testSize=0 disables the watchlist -> exactly numRound rounds kept
    val (c5, m5) = train(BoostConfig(numRound = 5, testSize = 0.0, numClass = 2))
    assert(c5.treeCount(m5) == 5 * 2)
    val (c9, m9) = train(BoostConfig(numRound = 9, testSize = 0.0, numClass = 2))
    assert(c9.treeCount(m9) == 9 * 2)
    val (_, d1) = train(BoostConfig(numRound = 5, testSize = 0.0,
      numClass = 2, maxDepth = 1))
    assert(!java.util.Arrays.equals(m5, d1), "maxDepth knob had no effect")
  }

  test("gradient-boosted training is deterministic under the thread " +
    "pool (task-retry idempotency)") {
    // trees within a round build concurrently; the merged model must
    // not depend on thread scheduling
    val rows = sample()
    def bytes() = new GradientBoostedClassifier(BoostConfig(
      numRound = 12, maxDepth = 3, nThread = 4)).train(rows)
    assert(java.util.Arrays.equals(bytes(), bytes()))
  }

  test("cross-encoder seam: model bytes round-trip, batched scores " +
    "equal the exact dot, width mismatch fails loudly") {
    import graft.ml.CrossEncoder
    val w = Array(500000L, 3000L, 1L, -100L)
    val bytes = CrossEncoder.model(w)
    assert(CrossEncoder.weightsOf(bytes).sameElements(w))
    val feats = Array(
      Array(3L, 7L, 1234567L, 40L),
      Array(0L, 0L, 0L, 0L),
      Array(1L, -2L, 10L, 1L))
    val got = CrossEncoder.scoreBatch(bytes, feats.iterator).toSeq
    val want = feats.toSeq.map(f =>
      f.zip(w).map { case (a, b) => a * b }.sum)
    assert(got == want)
    intercept[IllegalArgumentException] {
      CrossEncoder.scoreBatch(bytes,
        Iterator(Array(1L, 2L))).toSeq
    }
    // overflow fails loudly (checked arithmetic) instead of silently
    // wrapping away from the oracle's unwrapped BIGINT scores
    intercept[ArithmeticException] {
      CrossEncoder.scoreBatch(bytes,
        Iterator(Array(Long.MaxValue, 0L, 0L, 0L))).toSeq
    }
  }
}
