package graft.pipeline

import java.sql.Timestamp
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.scalatest.funsuite.AnyFunSuite

import Orchestrator._

/** Pins the Airflow-shaped run-state machine: ordering, overlap of
  * independent branches, retry budget + delay, failure propagation to
  * downstreams while siblings continue, and schedule/catchup due-date
  * computation. Pure driver-side — no SparkSession needed.
  */
class OrchestratorSpec extends AnyFunSuite {

  private val t0 = Timestamp.valueOf("2025-01-01 00:00:00")
  private def ts(s: String) = Timestamp.valueOf(s)

  /** Start/end stamps per task from one shared monotonic tick, so "x
    * started after y finished" is a plain comparison across threads.
    */
  private final class Stamps {
    private val tick = new AtomicLong
    private val spans = collection.mutable.Buffer.empty[(String, Long, Long)]
    def record(name: String)(body: => Unit): Unit = {
      val start = tick.incrementAndGet()
      try body
      finally {
        val end = tick.incrementAndGet()
        synchronized(spans += ((name, start, end)))
      }
    }
    def ran: Seq[String] = synchronized(spans.map(_._1).toSeq)
    def start(name: String): Long = synchronized(spans.find(_._1 == name).get._2)
    def end(name: String): Long = synchronized(spans.find(_._1 == name).get._3)
  }

  private def diamond(stamps: Stamps, failIn: Set[String] = Set.empty) = {
    def task(name: String, deps: String*) = TaskDef(name, deps)(_ =>
      stamps.record(name)(if (failIn(name)) sys.error(s"boom $name")))
    Seq(task("a"), task("b", "a"), task("c", "a"), task("d", "b", "c"))
  }

  /** Every task that ran did so exactly once and started only after each
    * of its deps had finished.
    */
  private def assertDepsFinishedFirst(tasks: Seq[TaskDef], stamps: Stamps): Unit = {
    val ran = stamps.ran
    assert(ran.distinct == ran, s"a task ran twice: $ran")
    for (t <- tasks if ran.contains(t.name); d <- t.deps)
      assert(stamps.start(t.name) > stamps.end(d), s"${t.name} started before its dep $d finished")
  }

  test("runs in dependency order with fan-in, all success") {
    val stamps = new Stamps
    val tasks = diamond(stamps)
    val r = runOnce("dag", tasks, t0, sleep = _ => ())
    assert(stamps.ran.sorted == Seq("a", "b", "c", "d"))
    assertDepsFinishedFirst(tasks, stamps)
    assert(r.succeeded)
    assert(r.tasks.values.forall(_.attempts == 1))
    assert(r.tasks.keys.toSeq == Seq("a", "b", "c", "d")) // topological, not completion order
  }

  test("independent branches overlap: b finishes only once c has started") {
    val cStarted = new CountDownLatch(1)
    val tasks = Seq(
      TaskDef("a")(_ => ()),
      TaskDef("b", Seq("a"))(_ =>
        if (!cStarted.await(30, TimeUnit.SECONDS)) sys.error("c never ran alongside b")),
      TaskDef("c", Seq("a"))(_ => cStarted.countDown()),
      TaskDef("d", Seq("b", "c"))(_ => ()))
    val r = runOnce("dag", tasks, t0, sleep = _ => ())
    assert(r.succeeded, r.tasks.toString)
  }

  test("retries until success, sleeping retry_delay between attempts") {
    var calls = 0
    val slept = collection.mutable.Buffer.empty[Long]
    val tasks = Seq(TaskDef("flaky", retries = 3, retryDelayMs = 5000L) { _ =>
      calls += 1
      if (calls < 3) sys.error("transient")
    })
    val r = runOnce("dag", tasks, t0, sleep = slept += _)
    assert(r.tasks("flaky").state == TaskState.Success)
    assert(r.tasks("flaky").attempts == 3)
    assert(slept.toSeq == Seq(5000L, 5000L))
  }

  test("retry budget exhausted -> Failed with the last error recorded") {
    val tasks = Seq(TaskDef("doomed", retries = 2)(_ => sys.error("always")))
    val r = runOnce("dag", tasks, t0, sleep = _ => ())
    val res = r.tasks("doomed")
    assert(res.state == TaskState.Failed)
    assert(res.attempts == 3) // 1 try + 2 retries
    assert(res.error.exists(_.contains("always")))
    assert(!r.succeeded)
  }

  test("failure marks transitive downstream upstream_failed, sibling branch still runs") {
    val stamps = new Stamps
    val tasks = diamond(stamps, failIn = Set("b"))
    val r = runOnce("dag", tasks, t0, sleep = _ => ())
    assert(r.tasks("a").state == TaskState.Success)
    assert(r.tasks("b").state == TaskState.Failed)
    assert(r.tasks("c").state == TaskState.Success) // independent branch
    assert(r.tasks("d").state == TaskState.UpstreamFailed)
    assert(r.tasks("d").attempts == 0)
    assert(stamps.ran.sorted == Seq("a", "b", "c")) // d never executed
    assertDepsFinishedFirst(tasks, stamps)
  }

  test("a failed task keeps its own exception") {
    val boom = new IllegalStateException("boom")
    val r = runOnce("dag", Seq(TaskDef("t")(_ => throw boom)), t0, sleep = _ => ())
    assert(r.tasks("t").failure.contains(boom))
    assert(r.tasks("t").error.contains(boom.toString))
  }

  test("attempt number is exposed in the run context") {
    val seen = collection.mutable.Buffer.empty[Int]
    val tasks = Seq(TaskDef("t", retries = 2) { ctx =>
      seen += ctx.attempt
      if (ctx.attempt < 2) sys.error("again")
    })
    runOnce("dag", tasks, t0, sleep = _ => ())
    assert(seen.toSeq == Seq(1, 2))
  }

  test("InterruptedException fails immediately — never burns the retry budget") {
    var calls = 0
    val tasks = Seq(
      TaskDef("cancelled", retries = 5, retryDelayMs = 1000L) { _ =>
        calls += 1
        throw new InterruptedException("shutdown requested")
      },
      TaskDef("downstream", Seq("cancelled"))(_ => ()))
    val slept = collection.mutable.Buffer.empty[Long]
    val r = runOnce("dag", tasks, t0, sleep = slept += _)
    assert(calls == 1) // no re-execution after cancellation
    assert(slept.isEmpty)
    assert(r.tasks("cancelled").state == TaskState.Failed)
    assert(r.tasks("cancelled").attempts == 1)
    assert(r.tasks("downstream").state == TaskState.UpstreamFailed)
    // the interrupt flag must be restored for the caller (and cleared
    // here so it can't poison later tests on this thread)
    assert(Thread.interrupted())
  }

  /** Run `tasks` on a fresh caller thread; returns the result and the
    * caller's interrupt flag after the run, failing if it never returns.
    */
  private def runOnCaller(tasks: Seq[TaskDef])(whileRunning: Thread => Unit): (DagRunResult, Boolean) = {
    @volatile var result: DagRunResult = null
    @volatile var flagAfter = false
    val caller = new Thread(() => {
      result = runOnce("dag", tasks, t0, sleep = _ => ())
      flagAfter = Thread.currentThread().isInterrupted
    })
    caller.setDaemon(true)
    caller.start()
    whileRunning(caller)
    caller.join(30000)
    assert(!caller.isAlive, "runOnce never returned")
    (result, flagAfter)
  }

  test("interrupting the caller interrupts running tasks and starts no downstream") {
    val started = new CountDownLatch(1)
    val (r, flagAfter) = runOnCaller(Seq(
      TaskDef("slow")(_ => { started.countDown(); new CountDownLatch(1).await() }),
      TaskDef("after", Seq("slow"))(_ => ()))) { caller =>
      assert(started.await(30, TimeUnit.SECONDS))
      caller.interrupt()
    }
    assert(r.tasks("slow").state == TaskState.Failed)
    assert(r.tasks("slow").failure.exists(_.isInstanceOf[InterruptedException]))
    assert(r.tasks("after").state == TaskState.UpstreamFailed)
    assert(flagAfter)
  }

  test("a body that restores its interrupt flag, then throws, still reports Failed") {
    val (r, flagAfter) = runOnCaller(Seq(
      TaskDef("flagged") { _ =>
        Thread.currentThread().interrupt()
        throw new RuntimeException("closed by interrupt")
      },
      TaskDef("after", Seq("flagged"))(_ => ())))(_ => ())
    assert(r.tasks("flagged").state == TaskState.Failed)
    assert(r.tasks("flagged").failure.exists(_.getMessage == "closed by interrupt"))
    assert(r.tasks("after").state == TaskState.UpstreamFailed)
    assert(flagAfter)
  }

  test("a body that swallows the caller's interrupt and returns still reports") {
    val started = new CountDownLatch(1)
    val (r, flagAfter) = runOnCaller(Seq(
      TaskDef("slow") { _ =>
        started.countDown()
        try new CountDownLatch(1).await()
        catch { case _: InterruptedException => Thread.currentThread().interrupt() }
      },
      TaskDef("after", Seq("slow"))(_ => ()))) { caller =>
      assert(started.await(30, TimeUnit.SECONDS))
      caller.interrupt()
    }
    assert(r.tasks("slow").state == TaskState.Success)
    assert(r.tasks("after").state == TaskState.Failed)
    assert(r.tasks("after").attempts == 0)
    assert(flagAfter)
  }

  test("unknown dep and cycles rejected before any task runs") {
    val log = collection.mutable.Buffer.empty[String]
    intercept[IllegalArgumentException] {
      runOnce("dag", Seq(TaskDef("x", Seq("ghost"))(_ => log += "x")), t0, sleep = _ => ())
    }
    intercept[IllegalArgumentException] {
      runOnce(
        "dag",
        Seq(
          TaskDef("p", Seq("q"))(_ => log += "p"),
          TaskDef("q", Seq("p"))(_ => log += "q")),
        t0,
        sleep = _ => ())
    }
    assert(log.isEmpty)
  }

  test("catchup=true backfills every missed interval since start_date") {
    val spec = DagSpec("dag", t0, scheduleMs = Some(86400000L), catchup = true)
    val due = dueLogicalDates(spec, None, ts("2025-01-04 12:00:00"))
    assert(due == Seq(t0, ts("2025-01-02 00:00:00"), ts("2025-01-03 00:00:00")))
  }

  test("catchup=false collapses the backlog to the latest due interval") {
    val spec = DagSpec("dag", t0, scheduleMs = Some(86400000L), catchup = false)
    val due = dueLogicalDates(spec, None, ts("2025-01-04 12:00:00"))
    assert(due == Seq(ts("2025-01-03 00:00:00")))
  }

  test("an interval is due only once its end has passed") {
    val spec = DagSpec("dag", t0, scheduleMs = Some(86400000L), catchup = true)
    assert(dueLogicalDates(spec, None, ts("2025-01-01 23:59:59")).isEmpty)
    assert(dueLogicalDates(spec, None, ts("2025-01-02 00:00:00")) == Seq(t0))
  }

  test("resumes after the last completed logical date, exclusive") {
    val spec = DagSpec("dag", t0, scheduleMs = Some(86400000L), catchup = true)
    val due = dueLogicalDates(spec, Some(ts("2025-01-02 00:00:00")), ts("2025-01-05 00:00:00"))
    assert(due == Seq(ts("2025-01-03 00:00:00"), ts("2025-01-04 00:00:00")))
  }

  test("schedule=None is manual-only: never due (the reference's shipped config)") {
    val spec = DagSpec("dag", t0, scheduleMs = None, catchup = true)
    assert(dueLogicalDates(spec, None, ts("2030-01-01 00:00:00")).isEmpty)
  }

  test("runPending executes the backlog oldest-first with per-run results") {
    val spec = DagSpec("dag", t0, scheduleMs = Some(86400000L), catchup = true)
    val dates = collection.mutable.Buffer.empty[Timestamp]
    val tasks = Seq(TaskDef("only")(ctx => dates += ctx.logicalDate))
    val runs = runPending(spec, tasks, None, ts("2025-01-03 06:00:00"), sleep = _ => ())
    assert(runs.map(_.logicalDate) == Seq(t0, ts("2025-01-02 00:00:00")))
    assert(dates.toSeq == Seq(t0, ts("2025-01-02 00:00:00")))
    assert(runs.forall(_.succeeded))
  }
}
