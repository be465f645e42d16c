package graft.exec

import graft.core.HV

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.util.concurrent.atomic.AtomicReference

/** Raised by [[Reporter.broadcast]] when the driver flagged this trial for
  * early stop (reference: EarlyStopException, maggy/core/exceptions.py). */
final class EarlyStopException(val lastMetric: Double) extends RuntimeException("early stop")

/** Executor→driver metric reporter (reference: maggy/core/reporter.py).
  * Thread-safe buffer between the user train fn and the heartbeat thread;
  * `broadcast` validates monotone steps and raises when stopped; `log`
  * buffers lines the heartbeat thread ships to the driver's per-trial log
  * files (reference: reporter.py:137-170). */
final class Reporter(trialId: String, sink: (Long, Double) => Unit = (_, _) => ()) {
  private[exec] val latest = new AtomicReference[Option[(Long, Double)]](None)
  private[exec] val logQueue = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile private[exec] var stopFlag = false
  @volatile private var lastStep = -1L

  def broadcast(metric: Double, step: Long): Unit = {
    if (step <= lastStep)
      throw new IllegalArgumentException(s"step $step must be > previous step $lastStep")
    lastStep = step
    latest.set(Some((step, metric)))
    // driver-local experiments (MllibLagom) record history directly; the
    // executor path ships it over the heartbeat channel instead
    sink(step, metric)
    if (stopFlag) throw new EarlyStopException(metric)
  }
  def log(msg: String): Unit = logQueue.add(msg)

  /** Attach a NON-DRIVING metric to this trial (reference: the extra keys of
    * a dict-returning train fn, util.py:159-199 handle_return_val persists
    * the full return dict per trial). Ships as a `metric <k>=<v>` line on
    * the log channel; the driver parses it back into the trial's `extras`
    * map, which lands in hparams.jsonl and result.json. */
  def logMetric(key: String, value: Double): Unit = {
    require(!key.contains("=") && !key.contains("\n"),
      s"metric key must not contain '=' or newline: '$key'")
    log(s"metric $key=$value")
  }
  def id: String = trialId
}

/** What a user train function sees for one trial. */
final case class TrialContext(
    trialId: String,
    params: Map[String, HV],
    budget: Option[Double],
    partitionId: Int,
    reporter: Reporter) {
  def double(name: String): Double = params(name).asDouble
  def long(name: String): Long = params(name) match {
    case HV.L(v) => v
    case other => other.asDouble.toLong
  }
  def string(name: String): String = params(name) match {
    case HV.S(s) => s
    case other => other.jsonRender
  }
}

/** User-supplied train function (reference: black-box train fn with kwargs
  * injection, maggy/core/executors/trial_executor.py:166-179 — a SAM trait
  * needs no reflection). Must be Serializable: it ships in the task closure. */
trait TrainFn extends Serializable {
  def apply(ctx: TrialContext): Double
}

/** One request/response RPC channel with reconnect-and-retry ≤3 (reference:
  * maggy/core/rpc.py:41,676-688). */
private[exec] final class RpcChannel(host: String, port: Int, secret: String) {
  private var sock: Socket = _
  private var in: DataInputStream = _
  private var out: DataOutputStream = _
  connect()

  private def connect(): Unit = {
    sock = new Socket(host, port)
    sock.setTcpNoDelay(true)
    in = new DataInputStream(sock.getInputStream)
    out = new DataOutputStream(sock.getOutputStream)
  }

  def request(fields: Map[String, String]): Map[String, String] = synchronized {
    var attempts = 0
    while (true) {
      try {
        Wire.send(out, fields + ("secret" -> secret))
        return Wire.recv(in)
      } catch {
        case e: java.io.IOException =>
          attempts += 1
          if (attempts > 3) throw e
          try connect() catch { case _: Throwable => Thread.sleep(500) }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def close(): Unit = synchronized { if (sock != null) sock.close() }
}

/** The long-lived per-partition executor loop (reference:
  * maggy/core/executors/trial_executor.py:35-213): register, then pull
  * trials until GSTOP; heartbeat thread streams the latest metric.
  */
object TrialExecutor {

  /** Best-effort slot re-registration: REG the partition again so the driver
    * frees any trial lost with it. Spark task retry produces this signal
    * implicitly (the retried task's REG); a thread-pool launcher whose slot
    * died for good must emit it manually or the lost trial stays Running
    * and the experiment never completes. */
  def reregisterSlot(host: String, port: Int, secret: String, partitionId: Int): Unit =
    try {
      val ch = new RpcChannel(host, port, secret)
      try ch.request(Map("type" -> MsgType.Reg, "partition" -> partitionId.toString))
      finally ch.close()
    } catch { case _: Throwable => () }

  def run(
      partitionId: Int,
      host: String,
      port: Int,
      secret: String,
      hbIntervalMs: Long,
      pollIntervalMs: Long,
      trainFn: TrainFn): Unit = {

    val main = new RpcChannel(host, port, secret)
    val hb = new RpcChannel(host, port, secret)
    try {
      main.request(Map("type" -> MsgType.Reg, "partition" -> partitionId.toString))

      var done = false
      while (!done) {
        val resp = main.request(Map("type" -> MsgType.Get, "partition" -> partitionId.toString))
        resp("type") match {
          case MsgType.GStop => done = true
          case MsgType.Idle => Thread.sleep(pollIntervalMs)
          case MsgType.Trial =>
            val trialId = resp("trial_id")
            val params = ParamsCodec.decode(resp)
            val budget = resp.get("budget").filter(_.nonEmpty).map(_.toDouble)
            val reporter = new Reporter(trialId)

            // heartbeat: stream latest (step, metric); honor STOP responses
            // (reference rpc.py:716-737 client heartbeat thread)
            @volatile var trialRunning = true
            def drainLogs(): Unit = {
              var line = reporter.logQueue.poll()
              while (line != null) {
                hb.request(Map("type" -> MsgType.Log, "trial_id" -> trialId, "text" -> line))
                line = reporter.logQueue.poll()
              }
            }
            val hbThread = new Thread(() => {
              try {
                while (trialRunning) {
                  reporter.latest.get() match {
                    case Some((step, value)) =>
                      val r = hb.request(Map(
                        "type" -> MsgType.Metric, "trial_id" -> trialId,
                        "step" -> step.toString, "value" -> value.toString))
                      if (r("type") == MsgType.Stop) reporter.stopFlag = true
                    case None =>
                  }
                  drainLogs()
                  Thread.sleep(hbIntervalMs)
                }
              } catch { case _: InterruptedException => } // trial done
            }, s"graft-hb-$partitionId")
            hbThread.setDaemon(true)
            hbThread.start()

            val ctx = TrialContext(trialId, params, budget, partitionId, reporter)
            var earlyStopped = false
            var errored = false
            val metric =
              try trainFn(ctx)
              catch {
                case es: EarlyStopException => earlyStopped = true; es.lastMetric
                case _: Throwable =>
                  // a throwing train fn fails ONE trial, not the executor:
                  // report ERROR and keep pulling (the driver drops the trial
                  // from the busy store; reference maggy/core/rpc.py:415-437)
                  errored = true; Double.NaN
              }
            trialRunning = false
            hbThread.interrupt() // don't pay a heartbeat-interval latency per trial
            hbThread.join(2000)
            // flush any final heartbeat value + buffered logs before FINAL so
            // history and per-trial log files are complete
            reporter.latest.get().foreach { case (step, value) =>
              hb.request(Map("type" -> MsgType.Metric, "trial_id" -> trialId,
                "step" -> step.toString, "value" -> value.toString))
            }
            drainLogs()
            main.request(Map(
              "type" -> MsgType.Final, "trial_id" -> trialId,
              "value" -> metric.toString,
              "early_stopped" -> earlyStopped.toString,
              "error" -> errored.toString))
          case MsgType.Err =>
            throw new IllegalStateException(s"driver rejected message: $resp")
        }
      }
    } finally {
      main.close()
      hb.close()
    }
  }
}
