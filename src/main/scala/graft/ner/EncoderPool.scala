package graft.ner

import java.util.concurrent.{CountDownLatch, LinkedBlockingQueue, Semaphore}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}

import org.apache.spark.SparkEnv
import org.apache.spark.sql.graft.GraftSqlShim

/** The JVM-wide pool one encoder call borrows idle cores from — the
  * reference runs each call on 4 ggml threads; here a call shares the cores
  * Spark schedules instead of adding to them.
  *
  * A gate holds one permit per task slot of the JVM
  * ([[GraftSqlShim.taskSlots]]: the N of `local[N]`, an executor's cores,
  * `availableProcessors` outside Spark). A [[NerEvalExec]] task holds one permit from its first row to its
  * last ([[holdSlot]]); an encoder call outside any task holds one for the
  * call ([[withSlot]]). Inside the call, [[split]] `tryAcquire`s the free
  * permits, up to one per work unit, and deals the units out as contiguous
  * ranges: the caller runs the first and `slots − 1` named daemon helper
  * threads run the rest. Nobody ever waits for a permit: with every slot
  * busy (a many-task stage) a call runs inline exactly as on one core, and
  * a caller holding no permit never splits. A unit takes only its range and
  * its scratch from the running thread's [[Workspace]], so it is computed
  * the same way whichever thread runs it and a split never changes a bit of
  * the result — the morsel-driven scheme of Leis et al. (SIGMOD 2014)
  * applied inside one operator call.
  */
private[graft] object EncoderPool {

  /** Multiply-adds below which a split runs inline. Waking a helper and
    * joining it costs ~50 µs (median of an empty 4-way split; 4 vCPUs,
    * AVX-512), and a split that finds one free slot saves at most half the
    * product, so it needs ~0.2 ms of work (~6 M multiply-adds at the
    * tile's rate) to gain. The 2 M products of a 128-token batch on a
    * 64-wide model measured ×1.4 with three idle helpers, but split at a
    * many-task stage's tail they cost `ner_sql_tiny` 7-14 %. */
  val HandoffFloorMacs: Long = 1L << 23

  /** Units [lo, hi) of a split, run on whichever thread claims them. */
  trait Work { def apply(lo: Int, hi: Int): Unit }

  /** The slots of a [[Workspace.clock]]: nanoseconds of the linears
    * ([[LinearWeight.apply]]), of attention (the K and Q repacks and the
    * (document, head) split), of the norm stages (embeddings, LayerNorms,
    * residual adds, GELU, the logits copy), each the calling thread's wall
    * time, and of the helper threads this thread's splits borrowed. */
  object Clock {
    final val Linear = 0; final val Attention = 1; final val Norm = 2; final val Helper = 3
    final val Slots = 4
  }

  /** One thread's encoder state: its pack panel and attention scores
    * block, grown on demand; the task slot it holds ([[holdSlot]]); and
    * its stage [[clock]]. Every encoder shares it: safe because a forward
    * pass never re-enters one (nothing it calls runs an encoder), and a
    * unit uses the buffers only within its own range. */
  final class Workspace private[EncoderPool] {
    private var packBuf, scoresBuf = new Array[Float](0)
    private[EncoderPool] var held: Slot = null
    /** Nanoseconds by [[Clock]] slot, summed over this thread's calls. */
    val clock = new Array[Long](Clock.Slots)

    /** Adds the nanoseconds since `t0` to clock slot `k`. */
    def time(k: Int, t0: Long): Unit = clock(k) += System.nanoTime() - t0

    /** This thread's pack buffer of at least `n` floats. */
    def pack(n: Int): Array[Float] = { if (packBuf.length < n) packBuf = new Array(n); packBuf }

    /** This thread's scores block of at least `n` floats. */
    def scores(n: Int): Array[Float] = { if (scoresBuf.length < n) scoresBuf = new Array(n); scoresBuf }

    /** The live slot this thread holds, else null. */
    private[EncoderPool] def holding: Slot = if (held != null && held.live) held else null
  }

  private val workspaces = ThreadLocal.withInitial[Workspace](() => new Workspace)

  /** The running thread's [[Workspace]]. */
  def workspace: Workspace = workspaces.get

  /** One permit per task slot of the SparkEnv `env` (null outside Spark). */
  private final class Gate(val env: SparkEnv, val slots: Int) {
    val permits = new Semaphore(slots)
  }

  /** A permit of `gate` held by one thread until [[release]]. */
  final class Slot private[EncoderPool] (private[EncoderPool] val gate: Gate) {
    @volatile private[EncoderPool] var live = true
    def release(): Unit = if (live) { live = false; gate.permits.release() }
  }

  @volatile private var gate: Gate = null

  private def currentGate(): Gate = {
    val env = SparkEnv.get
    val g = gate
    if (g != null && (g.env eq env)) g
    else synchronized {
      if (gate == null || !(gate.env eq env)) gate = new Gate(env,
        if (env == null) Runtime.getRuntime.availableProcessors
        else GraftSqlShim.taskSlots(env))
      gate
    }
  }

  private val NoSlot = { val s = new Slot(null); s.live = false; s }

  /** This thread's permit if it holds none yet and one is free, for a task
    * to keep from its first row to its last; else a slot that holds
    * nothing. */
  def holdSlot(): Slot = {
    val ws = workspace
    if (ws.holding != null) NoSlot
    else {
      val g = currentGate()
      if (g.permits.tryAcquire()) { val s = new Slot(g); ws.held = s; s }
      else NoSlot
    }
  }

  /** `body` holding a permit: this thread's own, or one taken for the
    * call when a permit is free (released after it). */
  def withSlot[A](body: => A): A = {
    val s = holdSlot()
    try body finally s.release()
  }

  /** Test hook: run `body` with a gate of `width` permits. */
  private[graft] def withWidth[A](width: Int)(body: => A): A = {
    gate = new Gate(SparkEnv.get, width)
    try body finally gate = null
  }

  /** Permits free right now (tests). */
  private[graft] def freePermits: Int = currentGate().permits.availablePermits

  /** Split `units` work units costing `macs` multiply-adds in all: inline
    * when there is one unit, the work is under [[HandoffFloorMacs]], this
    * thread holds no permit or no other permit is free; else over as many
    * helpers as free permits allow (up to one per unit). Returns after
    * every range has run; the first exception any range threw is rethrown
    * here. The helper-thread time a split borrows goes to this thread's
    * [[Clock.Helper]]. */
  def split(units: Int, macs: Long)(work: Work): Unit = {
    val ws = workspace
    val own = if (units < 2 || macs < HandoffFloorMacs) null else ws.holding
    val g = if (own == null) null else own.gate
    var k = 0
    if (g != null)
      while (k < math.min(units, g.slots) - 1 && g.permits.tryAcquire()) k += 1
    if (k == 0) work(0, units)
    else try {
      Helpers.ensure(g.slots - 1)
      val job = new Split(units, k + 1, work)
      var i = 0
      while (i < k) { Helpers.queue.add(job); i += 1 }
      job.runCaller()
      ws.clock(Clock.Helper) += job.helperNs.get
    } finally g.permits.release(k)
  }

  /** `units` dealt into `ranges` contiguous ranges; range 0 is the
    * caller's, the others go to whoever claims them first, the caller
    * included once its own is done, so it never waits on a helper that has
    * not started. */
  private final class Split(units: Int, ranges: Int, work: Work) extends Runnable {
    private val next = new AtomicInteger(1)
    private val running = new CountDownLatch(ranges - 1)
    private val failure = new AtomicReference[Throwable]
    val helperNs = new AtomicLong

    private def range(r: Int): Unit =
      work((r.toLong * units / ranges).toInt, ((r + 1).toLong * units / ranges).toInt)

    private def drain(): Unit = {
      var r = next.getAndIncrement()
      while (r < ranges && failure.get == null) {
        range(r)
        r = next.getAndIncrement()
      }
    }

    private def fail(t: Throwable): Unit = failure.compareAndSet(null, t)

    def run(): Unit = {
      val t0 = System.nanoTime()
      try drain() catch { case t: Throwable => fail(t) }
      finally { helperNs.addAndGet(System.nanoTime() - t0); running.countDown() }
    }

    def runCaller(): Unit = {
      try { range(0); drain() }
      catch { case t: Throwable => fail(t) }
      // the helpers write the caller's output: wait for them even when
      // interrupted (each range is bounded), then restore the interrupt
      var interrupted = false
      while (running.getCount > 0)
        try running.await() catch { case _: InterruptedException => interrupted = true }
      if (interrupted) Thread.currentThread.interrupt()
      val t = failure.get
      if (t != null) throw t
    }
  }

  /** The helper threads, started on the first split and never more than
    * the largest gate's `slots − 1`; daemons, so they never hold a JVM up,
    * and started without the splitting task's inheritable thread-locals or
    * class loader, so they pin neither. */
  private object Helpers {
    val queue = new LinkedBlockingQueue[Runnable]
    @volatile private var started = 0

    def ensure(n: Int): Unit = if (started < n) synchronized {
      while (started < n) {
        val t = new Thread(null, () => while (true) queue.take().run(),
          s"graft-ner-encoder-${started + 1}", 0, false)
        t.setContextClassLoader(getClass.getClassLoader)
        t.setDaemon(true)
        t.start()
        started += 1
      }
    }
  }
}
