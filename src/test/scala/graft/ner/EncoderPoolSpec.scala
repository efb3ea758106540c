package graft.ner

import java.util.concurrent.CountDownLatch

import org.scalatest.funsuite.AnyFunSuite

/** The safety properties of [[EncoderPool]]'s permit gate: a split borrows
  * only free permits and never waits for one, every linear product is the
  * same bits on every kernel at every split width, and a helper's failure
  * reaches the caller with every permit given back.
  */
class EncoderPoolSpec extends AnyFunSuite {

  /** Helper-thread time this thread's splits borrowed, its clock's helper
    * slot: it moves exactly when a split handed work to a helper. */
  private def borrowed: Long = EncoderPool.workspace.clock(EncoderPool.Clock.Helper)

  /** An F32 weight with `panels` panels of the kernel's width, an uneven
    * count over 2-4 workers, seeded; and 256 activation rows over it, above
    * the hand-off floor. */
  private def shape(kern: DotKernel, panels: Int) = {
    val r = new scala.util.Random(panels)
    val (in, out, n) = (512, panels * kern.panel - 3, 256)
    val w = Array.fill(in * out)(r.nextFloat() - 0.5f)
    val x = Array.fill(n * in)(r.nextFloat() - 0.5f)
    val b = Array.fill(out)(r.nextFloat() - 0.5f)
    (new LinearWeight.F32(w, in, out), x, n, b)
  }

  test("a linear product is the same bits at widths 1-4 on every kernel") {
    for (kern <- Kernels.all; panels <- Seq(1, 5, 7)) {
      val (w, x, n, b) = shape(kern, panels)
      val at = (1 to 4).map { width =>
        val y = new Array[Float](n * w.out)
        val before = borrowed
        EncoderPool.withWidth(width)(EncoderPool.withSlot(w(kern, x, n, b, y)))
        assert((borrowed > before) == (width > 1 && panels > 1),
          s"${kern.getClass.getSimpleName} $panels panels width $width")
        y
      }
      for (width <- 2 to 4)
        assert(java.util.Arrays.equals(at(width - 1), at(0)),
          s"${kern.getClass.getSimpleName} $panels panels width $width")
    }
  }

  /** `body` while `n` other threads each hold one permit, as running tasks
    * do. */
  private def whileHeld[A](n: Int)(body: => A): A = {
    val taken = new CountDownLatch(n)
    val done = new CountDownLatch(1)
    val holders = (1 to n).map { _ =>
      val t = new Thread(() => {
        val s = EncoderPool.holdSlot()
        taken.countDown()
        done.await()
        s.release()
      })
      t.start()
      t
    }
    taken.await()
    try body finally { done.countDown(); holders.foreach(_.join()) }
  }

  test("with every permit held, an encoder call hands no work to helpers") {
    val enc = TestModels.splitShaped("f32").encoder
    val docs = Array(Array.tabulate(256)(i => i % TestModels.DefaultVocab.length))
    val want = EncoderPool.withWidth(1)(enc.evalBatch(docs))
    EncoderPool.withWidth(4) {
      // three tasks hold a permit: the call takes the fourth and borrows none
      val before = borrowed
      val got = whileHeld(3)(enc.evalBatch(docs))
      assert(borrowed == before)
      assert(java.util.Arrays.equals(got(0), want(0)))
      // all four held: the caller has no permit of its own and runs inline
      val got4 = whileHeld(4)(enc.evalBatch(docs))
      assert(borrowed == before)
      assert(java.util.Arrays.equals(got4(0), want(0)))
      assert(EncoderPool.freePermits == 4)
      // and with the slots free again the same call splits
      enc.evalBatch(docs)
      assert(borrowed > before)
      assert(EncoderPool.freePermits == 4)
    }
  }

  test("a helper's exception reaches the caller; permits come back; the next call splits") {
    val kern = Kernels.best
    val (good, x, n, b) = shape(kern, 5)
    val helperName = "graft-ner-encoder-"
    // packs like `good` on the calling thread, after a pause that lets the
    // helpers claim their ranges, and throws on a helper thread
    val failing = new LinearWeight(good.in, good.out) {
      def pack(o0: Int, pw: Int, dst: Array[Float], ldp: Int): Unit =
        if (Thread.currentThread.getName.startsWith(helperName))
          throw new IllegalStateException("pack failed on a helper")
        else {
          if (o0 == 0) Thread.sleep(200)
          good.pack(o0, pw, dst, ldp)
        }
    }
    val y = new Array[Float](n * good.out)
    EncoderPool.withWidth(4) {
      val e = intercept[IllegalStateException] {
        EncoderPool.withSlot(failing(kern, x, n, b, y))
      }
      assert(e.getMessage == "pack failed on a helper")
      assert(EncoderPool.freePermits == 4)
      val before = borrowed
      EncoderPool.withSlot(good(kern, x, n, b, y))
      assert(borrowed > before)
      assert(EncoderPool.freePermits == 4)
    }
    val helpers = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(_.getName.startsWith(helperName))
    assert(helpers.nonEmpty && helpers.forall(t => t.isAlive && t.isDaemon))
  }
}
