package graft.pipeline

import java.sql.Timestamp
import java.util.concurrent.LinkedBlockingQueue

import scala.annotation.tailrec
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

/** Airflow-shaped orchestration semantics for the batch ELT DAG —
  * the scheduling layer the reference runs as an Airflow deployment
  * (`/root/reference/src/dags/batch_elt_company.py:9-31`: `default_args`
  * retries + `retry_delay`, `start_date`, `schedule`, `catchup`).
  *
  * [[runOnce]] is the one DAG runner (behind [[BatchElt.runDag]] too):
  * a task starts as soon as all its deps have succeeded, so independent
  * branches overlap, wrapped in the run-state machine:
  *
  *   - per-task retries with a delay between attempts (`retry_delay`),
  *     injectable sleep so specs run wall-clock-free
  *   - Airflow's failure propagation: a failed task (after retries)
  *     marks every transitive downstream task `upstream_failed` without
  *     running it, while independent branches still execute
  *   - schedule/catchup: a run is due for interval [T, T+interval) once
  *     T+interval has passed; `catchup=true` backfills every missed
  *     interval since the last completed run, `catchup=false` runs only
  *     the most recent one (the reference ships `schedule=None,
  *     catchup=False` — manual-trigger only — which maps to
  *     `schedule = None` here)
  *
  * Driver-side control flow only — each task body is ordinary Spark
  * batch work (the lakehouse hops in [[BatchElt]]), so nothing here
  * touches the data path or its scale shape.
  */
object Orchestrator {

  /** Execution context handed to each attempt (Airflow's logical date
    * + try number, the bits task bodies actually consume).
    */
  final case class RunContext(dagId: String, logicalDate: Timestamp, attempt: Int)

  /** A schedulable task: dependency names, retry budget, retry delay.
    * Mirrors the reference's `default_args` knobs (retries,
    * retry_delay); `body` runs once per attempt.
    */
  final case class TaskDef(
      name: String,
      deps: Seq[String] = Nil,
      retries: Int = 0,
      retryDelayMs: Long = 0L)(val body: RunContext => Unit)

  sealed trait TaskState
  object TaskState {
    case object Success extends TaskState
    case object Failed extends TaskState
    case object UpstreamFailed extends TaskState
  }

  /** Outcome of one task within a DAG run: terminal state, number of
    * attempts actually made (0 for upstream_failed), last failure.
    */
  final case class TaskResult(state: TaskState, attempts: Int, failure: Option[Throwable]) {
    def error: Option[String] = failure.map(_.toString)
  }

  final case class DagRunResult(
      dagId: String,
      logicalDate: Timestamp,
      tasks: ListMap[String, TaskResult]) {
    def succeeded: Boolean = tasks.values.forall(_.state == TaskState.Success)
  }

  /** DAG-level schedule spec. `scheduleMs = None` is Airflow's
    * `schedule=None`: manual triggers only, [[dueLogicalDates]] is
    * always empty.
    */
  final case class DagSpec(
      dagId: String,
      startDate: Timestamp,
      scheduleMs: Option[Long],
      catchup: Boolean = false)

  /** Deterministic topological order: declaration order subject to
    * dependencies (depth-first over deps). [[runOnce]] reports results in
    * this order; unknown deps and cycles are authoring errors surfaced
    * eagerly, before anything executes.
    */
  def topoOrder(tasks: Seq[TaskDef]): Seq[TaskDef] = {
    val byName = tasks.map(t => t.name -> t).toMap
    require(byName.size == tasks.size, "duplicate task names")
    tasks.foreach(t =>
      t.deps.foreach(d => require(byName.contains(d), s"task ${t.name}: unknown dep $d")))
    val ordered = mutable.LinkedHashSet.empty[String]
    def visit(name: String, visiting: Set[String]): Unit = {
      if (ordered.contains(name)) return
      require(!visiting.contains(name), s"dependency cycle at $name")
      byName(name).deps.foreach(visit(_, visiting + name))
      ordered += name
    }
    tasks.foreach(t => visit(t.name, Set.empty))
    ordered.toSeq.map(byName)
  }

  /** Execute one DAG run at `logicalDate`. Each task starts, on its own
    * worker thread, as soon as every one of its deps has succeeded, so
    * independent branches overlap; `sleep` is the retry-delay effect
    * (inject a no-op in tests — it may be called from several workers at
    * once). The result lists the tasks in [[topoOrder]], whatever order
    * they finished in.
    *
    * An `InterruptedException` inside a task fails that task at once and
    * sets the caller's interrupt flag when the run returns; so does a body
    * that leaves its own interrupt flag set (restore-then-throw, NIO's
    * `ClosedByInterruptException`), as when bodies ran on the caller's
    * thread. Such a flag does not cancel the rest of the run. Interrupting
    * the caller while it waits interrupts every running task and starts
    * no new one: ready tasks are recorded `Failed` after 0 attempts. A
    * fatal error in a task body is rethrown here once the workers stop.
    */
  def runOnce(
      dagId: String,
      tasks: Seq[TaskDef],
      logicalDate: Timestamp,
      sleep: Long => Unit = Thread.sleep): DagRunResult = {
    val order = topoOrder(tasks)
    val results = mutable.HashMap.empty[String, TaskResult]
    val workers = mutable.LinkedHashMap.empty[String, Thread]
    val finished = new LinkedBlockingQueue[(String, Either[Throwable, TaskResult], Boolean)]
    var cancelled: Option[InterruptedException] = None
    var bodyInterrupted = false
    // one pass in topological order settles every task whose deps are
    // all settled: a dep that did not succeed marks it upstream_failed
    // (transitively, as the pass reaches its downstreams), all deps
    // succeeded starts it on its own worker
    def launchReady(): Unit = order.foreach { t =>
      if (!results.contains(t.name) && !workers.contains(t.name)) {
        val deps = t.deps.map(results.get)
        if (deps.exists(_.exists(_.state != TaskState.Success)))
          results(t.name) = TaskResult(TaskState.UpstreamFailed, 0, None)
        else if (deps.forall(_.isDefined)) cancelled match {
          case Some(e) => results(t.name) = TaskResult(TaskState.Failed, 0, Some(e))
          case None =>
            val w = new Thread(
              () => {
                val outcome =
                  try Right(attempt(t, RunContext(dagId, logicalDate, 1), sleep))
                  catch { case e: Throwable => Left(e) }
                // `add`, not `put`: `put` throws while this thread's
                // interrupt flag is set, and the caller would wait for
                // this task forever. The flag itself is handed on.
                finished.add((t.name, outcome, Thread.interrupted()))
              },
              s"dag-$dagId-${t.name}")
            w.setDaemon(true)
            workers(t.name) = w
            w.start()
        }
      }
    }
    try {
      launchReady()
      while (workers.keysIterator.exists(!results.contains(_))) {
        val next =
          try Some(finished.take())
          catch {
            case e: InterruptedException =>
              // the caller asked to stop: interrupt the running bodies,
              // start nothing new
              cancelled = cancelled.orElse(Some(e))
              workers.valuesIterator.foreach(_.interrupt())
              None
          }
        next.foreach { case (name, outcome, flagged) =>
          if (flagged) bodyInterrupted = true
          results(name) = outcome.fold(e => throw e, identity)
          launchReady()
        }
      }
    } finally {
      // only a fatal error leaves bodies running here: stop those too
      workers.foreach { case (name, w) => if (!results.contains(name)) w.interrupt() }
      joinAll(workers.values)
    }
    if (cancelled.isDefined || bodyInterrupted ||
        results.values.exists(_.failure.exists(_.isInstanceOf[InterruptedException])))
      Thread.currentThread().interrupt()
    DagRunResult(dagId, logicalDate, ListMap(order.map(t => t.name -> results(t.name)): _*))
  }

  /** Run `t` from `ctx.attempt` on, retrying within its budget. */
  @tailrec
  private def attempt(t: TaskDef, ctx: RunContext, sleep: Long => Unit): TaskResult = {
    def failed(e: Throwable) = TaskResult(TaskState.Failed, ctx.attempt, Some(e))
    val error =
      try { t.body(ctx); None }
      catch {
        case e: InterruptedException => Some(e)
        case NonFatal(e) => Some(e)
      }
    error match {
      case None => TaskResult(TaskState.Success, ctx.attempt, None)
      // cancellation is not a transient failure: fail immediately —
      // never burn the retry budget re-running whole task bodies after
      // a shutdown request
      case Some(e: InterruptedException) => failed(e)
      case Some(e) if ctx.attempt > t.retries => failed(e)
      case Some(_) =>
        // an interrupt landing during the retry delay resolves like the
        // in-body interrupt path
        val cut =
          if (t.retryDelayMs <= 0) None
          else
            try { sleep(t.retryDelayMs); None }
            catch { case e: InterruptedException => Some(e) }
        cut match {
          case Some(e) => failed(e)
          case None => attempt(t, ctx.copy(attempt = ctx.attempt + 1), sleep)
        }
    }
  }

  /** Wait until every worker has exited, so none outlives the run. */
  private def joinAll(workers: Iterable[Thread]): Unit = {
    var interrupted = false
    workers.foreach { w =>
      while (w.isAlive)
        try w.join()
        catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
  }

  /** Logical dates due at `now`: one per schedule interval [T,
    * T+interval) whose end has passed, starting after `lastCompleted`
    * (exclusive) or at `startDate`. `catchup=false` collapses the
    * backlog to the single most recent due interval — Airflow's
    * semantics exactly. Manual-only DAGs (no schedule) are never due.
    */
  def dueLogicalDates(
      spec: DagSpec,
      lastCompleted: Option[Timestamp],
      now: Timestamp): Seq[Timestamp] =
    spec.scheduleMs match {
      case None => Nil
      case Some(interval) =>
        require(interval > 0, "schedule interval must be positive")
        val first = lastCompleted
          .map(_.getTime + interval)
          .getOrElse(spec.startDate.getTime)
        // number of complete intervals [first + j·interval, +interval)
        // whose end has passed; 0 when the first hasn't closed yet
        val complete =
          if (first + interval > now.getTime) 0L
          else (now.getTime - first) / interval
        if (complete == 0L) Nil
        else if (spec.catchup)
          (0L until complete).map(j => new Timestamp(first + j * interval))
        else
          // O(1): a year-old anchor on a minute schedule must not
          // materialize half a million timestamps per poll just to
          // keep the last one
          Seq(new Timestamp(first + (complete - 1) * interval))
    }

  /** Run every due interval in order (oldest first) — the catchup/
    * backfill loop. Returns the executed runs; the caller persists the
    * last successful logical date for the next poll.
    */
  def runPending(
      spec: DagSpec,
      tasks: Seq[TaskDef],
      lastCompleted: Option[Timestamp],
      now: Timestamp,
      sleep: Long => Unit = Thread.sleep): Seq[DagRunResult] =
    dueLogicalDates(spec, lastCompleted, now).map(d =>
      runOnce(spec.dagId, tasks, d, sleep))
}
