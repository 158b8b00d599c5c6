package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{CdcMaterializer, Change, KeyState}

/** Property-based invariants — the engine's two foundational kernels
  * checked over generated inputs rather than fixtures.
  */
class PropertySpec extends AnyFunSuite {

  private def check(prop: Prop, name: String): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  test("ShingleKernel == sliding-window reference on arbitrary text (incl. hostile whitespace)") {
    val word = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    val sep  = Gen.nonEmptyListOf(Gen.oneOf(' ', '\t', '\n')).map(_.mkString)
    val text = for {
      words <- Gen.listOf(word)
      seps  <- Gen.listOfN(words.length + 1, sep)
      pad   <- Gen.oneOf("", " ", "  ")
    } yield pad + words.zip(seps).map { case (w, s) => w + s }.mkString + pad
    val prop = Prop.forAll(text, Gen.choose(1, 6)) { (t: String, k: Int) =>
      val got = graft.plans.ShingleKernel
        .shingles(org.apache.spark.unsafe.types.UTF8String.fromString(t), k)
      val gotSeq = (0 until got.numElements()).map(i => got.getUTF8String(i).toString)
      // reference: the composed-expression semantics — split(trim, \s+)
      // with limit -1, then k-grams joined by single spaces. NB Spark's
      // trim (and UTF8String.trim) strips ASCII SPACES only — Java's
      // String.trim (all chars <= 0x20) is the wrong reference: a leading
      // tab legitimately yields a leading empty word.
      val spaceTrimmed = t.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      val ref = spaceTrimmed
        .split("\\s+", -1)
        .sliding(k)
        .filter(_.length == k)
        .map(_.mkString(" "))
        .toSeq
      gotSeq == ref
    }
    check(prop, "shingle kernel")
  }

  test("CDC fold is batching-invariant under arbitrary batch splits of a shuffled feed") {
    import org.apache.spark.sql.streaming.TestGroupState
    // seq models the source LSN: UNIQUE per feed (assigned by index below).
    // Batching invariance is only promised for well-formed feeds — two
    // DIFFERENT changes sharing a commit position have no defined order,
    // which is exactly why the engine requires an LSN at all.
    val change = for {
      op   <- Gen.oneOf("insert", "update", "delete")
      tsMs <- Gen.choose(0L, 50L)
      v    <- Gen.alphaStr.map(_.take(4))
    } yield Change(op, 1L, new java.sql.Timestamp(1700000000000L + tsMs), Map("v" -> v), 0L)
    val feed = Gen.listOf(change).map(_.zipWithIndex.map { case (c, i) => c.copy(seq = i.toLong) })
    // at-least-once transport: a redelivery is the SAME change (same
    // position, same after-image) inserted anywhere in the delivery, so
    // some repeats land in a later batch than their original
    val repeats = Gen.listOf(Gen.zip(Gen.choose(0, 1000), Gen.choose(0, 1000)))
    def redeliver(cs: List[Change], reps: List[(Int, Int)]): List[Change] =
      if (cs.isEmpty) cs
      else reps.foldLeft(cs) { case (acc, (i, at)) =>
        val p = at % (acc.length + 1)
        acc.take(p) ++ (cs(i % cs.length) :: acc.drop(p))
      }
    // the shared apply every stage-1 fold runs, with the KeyState step
    def applyBatches(batches: Seq[Seq[Change]]): Option[KeyState] =
      batches.foldLeft(Option.empty[KeyState]) { (s, b) =>
        CdcMaterializer.applyLww(s, b.iterator) { (_, c, tsUs) =>
          val deleted = c.op == "delete"
          KeyState(1L, tsUs, c.seq, if (deleted) Map.empty else c.payload, deleted)
        }
      }
    // the same batches through CdcMaterializer.fold's GroupState round trip
    def foldBatches(batches: Seq[Seq[Change]]): Option[KeyState] = {
      var state: Option[KeyState] = None
      batches.filter(_.nonEmpty).foreach { b =>
        val gs = TestGroupState.create[KeyState](
          optionalState = state.map(org.apache.spark.api.java.Optional.of[KeyState])
            .getOrElse(org.apache.spark.api.java.Optional.empty[KeyState]()),
          timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout(),
          batchProcessingTimeMs = 0L,
          eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
          hasTimedOut = false)
        CdcMaterializer.fold(1L, b.iterator, gs).toSeq
        if (gs.exists) state = Some(gs.get)
      }
      state
    }
    val prop = Prop.forAll(feed, repeats, Gen.choose(0, 100), Gen.choose(0, 100)) {
      (changes: List[Change], reps: List[(Int, Int)], cut1: Int, cut2: Int) =>
        // one batch of the unique feed vs the redelivered feed in one
        // batch, in two arbitrary cuts, and reversed — the (ts, seq)
        // total order must make them all converge to the identical state
        val all       = applyBatches(Seq(changes))
        val delivered = redeliver(changes, reps)
        val a         = cut1 % (delivered.length + 1)
        val b         = cut2 % (delivered.length + 1)
        val (lo, hi)  = (math.min(a, b), math.max(a, b))
        val cuts      = Seq(delivered.take(lo), delivered.slice(lo, hi), delivered.drop(hi))
        val split     = applyBatches(cuts)
        all == applyBatches(Seq(delivered)) && all == split &&
          all == applyBatches(Seq(delivered.reverse)) && foldBatches(cuts) == split
    }
    check(prop, "fold batching invariance")
  }

  test("TopK aggregator == sort-take reference under arbitrary partition splits and merge trees") {
    import graft.functions.{ScoredKey, TopK, TopKBuf}
    val agg   = new TopK(3)
    val entry = for { s <- Gen.choose(-100, 100); k <- Gen.choose(0L, 20L) } yield (s.toDouble, k)
    val prop = Prop.forAll(Gen.listOf(entry), Gen.choose(1, 7)) { (xs: List[(Double, Long)], nParts: Int) =>
      val ref = xs
        .map { case (s, k) => ScoredKey(s, k) }
        .sortBy(e => (-e.score, e.key))
        .take(3)
      // fold each partition with reduce, then merge in a left fold — the
      // shapes Spark's partial aggregation actually produces
      val parts = xs.zipWithIndex.groupMap(_._2 % nParts)(_._1)
      val merged = parts.values
        .map(_.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)(agg.merge)
      agg.finish(merged) == ref
    }
    check(prop, "TopK == sorted take(3)")
  }

  test("Misra-Gries bounds hold under arbitrary partition splits (undercount <= n/(k+1); frequent present)") {
    import graft.functions.HeavyHitters
    val agg = new HeavyHitters(4)
    val item = Gen.frequency((6, Gen.const(1L)), (3, Gen.const(2L)), (2, Gen.choose(3L, 12L)))
    val prop = Prop.forAll(Gen.listOf(item), Gen.choose(1, 7)) { (xs: List[Long], nParts: Int) =>
      val truth = xs.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val bound = xs.length.toLong / 5 // n/(k+1), k=4
      val parts = xs.zipWithIndex.groupMap(_._2 % nParts)(_._1)
      val merged = parts.values
        .map(_.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)(agg.merge)
      val result = agg.finish(merged).map(e => e.item -> e.approx_count).toMap
      val under  = result.forall { case (i, c) => c <= truth(i) && c >= truth(i) - bound }
      val present = truth.forall { case (i, c) => c <= bound || result.contains(i) }
      under && present && result.size <= 4
    }
    check(prop, "MG bounds")
  }

  test("chunk arithmetic: reassembly reproduces any token stream for any (n, width, stride<=width)") {
    // the pure form of q75's column expressions: nChunks formula + slice;
    // the operator spec pins the 64/48 instance on real docs, this pins
    // every parameterization (incl. stride == width, the no-overlap edge)
    val prop = Prop.forAll(Gen.choose(1, 400), Gen.choose(1, 60), Gen.choose(1, 60)) {
      (n: Int, width: Int, s0: Int) =>
        val stride  = math.min(s0, width)
        val toks    = (0 until n).map(_.toString)
        val nChunks = if (n <= width) 1 else (n - width + stride - 1) / stride + 1
        val chunks  = (0 until nChunks).map(i => toks.slice(i * stride, i * stride + width))
        val rebuilt = chunks.head ++ chunks.tail.flatMap(_.drop(width - stride))
        rebuilt == toks &&
        chunks.forall(c => c.nonEmpty && c.size <= width) &&
        chunks.init.forall(_.size == width)
    }
    check(prop, "chunk reassembly")
  }
}
