package graft.exec

import graft.core._
import graft.optimize._

import java.io.{DataInputStream, DataOutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.security.SecureRandom
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Driver-side experiment server (reference: maggy/core/rpc.py:260-511 +
  * maggy/core/experiment_driver/).
  *
  * Threads: accept loop + one handler per executor connection (stands in for
  * the reference's select() listener, rpc.py:350-385) + a metric digestion
  * thread consuming a blocking queue (reference spark_driver.py:211-236 —
  * which busy-polls; this one blocks, as SURVEY §4.2 recommends). Scheduling
  * state is guarded by one monitor: GET/FINAL are synchronous so a freed
  * executor is reassigned immediately — the async-scheduling core
  * (reference optimization_driver.py:485-541).
  */
final class DriverServer(
    optimizer: Optimizer,
    direction: Direction.Value,
    esRule: EarlyStopRule,
    esIntervalSteps: Long = 1,
    esMin: Int = 10,
    logDir: Option[String] = None,
    logSink: (String, String) => Unit = DriverServer.consoleSink) {

  private val secret: String = {
    val bytes = new Array[Byte](16)
    new SecureRandom().nextBytes(bytes)
    bytes.map(b => f"$b%02x").mkString
  }

  private var serverSocket: ServerSocket = _
  @volatile private var running = false

  /** partition -> registered flag (reservation registry; reference rpc.py:45-123). */
  val reservations: ConcurrentHashMap[Integer, java.lang.Long] = new ConcurrentHashMap()

  private val metricQueue = new LinkedBlockingQueue[(String, Long, Double)]()
  private val lock = new Object
  // trials by id, including running ones (trial store; optimization_driver.py:219-226)
  private val trials = mutable.Map.empty[String, Trial]
  @volatile var experimentDone = false
  @volatile var earlyStoppedCount = 0
  @volatile var erroredCount = 0
  private var stepsSinceCheck = 0L

  def host: String = InetAddress.getLoopbackAddress.getHostAddress
  def port: Int = serverSocket.getLocalPort
  def authSecret: String = secret

  def start(): Unit = {
    serverSocket = new ServerSocket(0, 128, InetAddress.getLoopbackAddress)
    running = true
    val acceptor = new Thread(() => acceptLoop(), "graft-rpc-accept")
    acceptor.setDaemon(true)
    acceptor.start()
    val digester = new Thread(() => digestLoop(), "graft-metric-digest")
    digester.setDaemon(true)
    digester.start()
  }

  def stop(): Unit = {
    running = false
    if (serverSocket != null) serverSocket.close()
  }

  def allTrials: Seq[Trial] = lock.synchronized(trials.values.toSeq)

  private def acceptLoop(): Unit =
    while (running) {
      try {
        val sock = serverSocket.accept()
        sock.setTcpNoDelay(true)
        val t = new Thread(() => handleConnection(sock), "graft-rpc-handler")
        t.setDaemon(true)
        t.start()
      } catch {
        case NonFatal(_) if !running => // closed
        case NonFatal(e) => if (running) Console.err.println(s"[graft-server] accept: $e")
      }
    }

  private def handleConnection(sock: Socket): Unit = {
    val in = new DataInputStream(sock.getInputStream)
    val out = new DataOutputStream(sock.getOutputStream)
    try {
      while (running && !sock.isClosed) {
        val msg = Wire.recv(in)
        if (msg.getOrElse("secret", "") != secret) {
          Wire.send(out, Map("type" -> MsgType.Err, "reason" -> "bad secret"))
        } else {
          Wire.send(out, handle(msg))
        }
      }
    } catch {
      case _: java.io.EOFException => // client done
      case _: java.net.SocketException => // client gone
    } finally sock.close()
  }

  private def handle(msg: Map[String, String]): Map[String, String] = msg("type") match {
    case MsgType.Reg => lock.synchronized {
      val p = msg("partition").toInt
      val fresh = reservations.put(p, System.currentTimeMillis()) == null
      if (!fresh) {
        // re-registration = Spark retried the task after the executor died;
        // any trial still assigned to this partition was lost mid-run —
        // mark it ERROR and free the optimizer slot so the experiment
        // completes instead of waiting on it forever
        // (reference: maggy/core/rpc.py:415-437 lost-trial path)
        trials.values
          .filter(t => t.assignedPartition.contains(p) && t.status == TrialStatus.Running)
          .foreach { t =>
            t.status = TrialStatus.Error
            erroredCount += 1
            optimizer.noteErrored(t)
          }
      }
      Map("type" -> MsgType.Ok)
    }

    case MsgType.Get => lock.synchronized {
      if (experimentDone) Map("type" -> MsgType.GStop)
      else optimizer.getSuggestion(None) match {
        case NewTrial(t) =>
          t.status = TrialStatus.Running
          t.assignedPartition = Some(msg("partition").toInt)
          t.startMs = System.currentTimeMillis()
          trials(t.trialId) = t
          optimizer.noteStarted(t)
          Map("type" -> MsgType.Trial, "trial_id" -> t.trialId,
            "budget" -> t.budget.map(_.toString).getOrElse("")) ++
            ParamsCodec.encode(t.paramsSansBudget)
        case Idle => Map("type" -> MsgType.Idle)
        case Done =>
          experimentDone = true
          Map("type" -> MsgType.GStop)
      }
    }

    case MsgType.Metric =>
      val id = msg("trial_id")
      metricQueue.put((id, msg("step").toLong, msg("value").toDouble))
      // STOP ride-along on the heartbeat ack (reference rpc.py:447-461)
      val stop = lock.synchronized(trials.get(id).exists(_.earlyStop))
      Map("type" -> (if (stop) MsgType.Stop else MsgType.Ok))

    case MsgType.Final => lock.synchronized {
      val id = msg("trial_id")
      trials.get(id).foreach { t =>
        if (msg.getOrElse("error", "false") == "true") {
          // train fn threw: ERROR, not finalized — the metric is garbage
          // (reference: failed-trial path, maggy/core/rpc.py:415-437)
          t.status = TrialStatus.Error
          erroredCount += 1
          optimizer.noteErrored(t)
        } else {
          t.finalize_(msg("value").toDouble)
          if (msg.getOrElse("early_stopped", "false") == "true") {
            t.earlyStop = true
            earlyStoppedCount += 1
          }
          optimizer.noteFinalized(t)
        }
      }
      Map("type" -> MsgType.Ok)
    }

    case MsgType.Log =>
      // live relay FIRST: a user watching a long experiment sees executor
      // train-fn lines as they arrive on the heartbeat channel, under a
      // trial prefix (reference: reporter.py:137-170 ships log lines per
      // heartbeat; rpc.py:500-511 LOG path) — then the per-trial log file.
      // Guarded: a throwing user sink must not kill the heartbeat
      // connection (no ack → executor hb thread dies → STOP undeliverable,
      // and the post-trial drain would fail the whole partition task).
      try logSink(msg("trial_id"), msg.getOrElse("text", ""))
      catch { case NonFatal(e) =>
        Console.err.println(s"[graft-server] logSink threw: $e")
      }
      // `metric <k>=<v>` lines (Reporter.logMetric — the non-driving metrics
      // of a dict-returning train fn) ALSO parse back into the trial's
      // extras map so the full metric dict persists per trial (reference:
      // util.py handle_return_val writes the whole return dict), not just
      // the console relay
      msg.getOrElse("text", "") match {
        case DriverServer.MetricLine(k, v) =>
          val value = try v.toDouble catch { case _: NumberFormatException => Double.NaN }
          if (!value.isNaN)
            lock.synchronized(trials.get(msg("trial_id")).foreach(_.putExtra(k, value)))
        case _ =>
      }
      // per-trial log files (reference: trial_executor.py:137-142 log dirs)
      logDir.foreach { root =>
        val dir = java.nio.file.Paths.get(root, "trials")
        lock.synchronized {
          java.nio.file.Files.createDirectories(dir)
          java.nio.file.Files.writeString(
            dir.resolve(s"${msg("trial_id")}.log"),
            msg.getOrElse("text", "") + "\n",
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.APPEND)
        }
      }
      Map("type" -> MsgType.Ok)

    case other =>
      Map("type" -> MsgType.Err, "reason" -> s"unknown message type $other")
  }

  /** Metric digestion: append history; run the early-stop rule every
    * esIntervalSteps once > esMin trials finalized
    * (reference optimization_driver.py:456-471). */
  private def digestLoop(): Unit =
    while (running) {
      val (id, step, value) = try metricQueue.take() catch { case _: InterruptedException => return }
      lock.synchronized {
        trials.get(id).foreach(_.appendMetric(step, value))
        stepsSinceCheck += 1
        if (stepsSinceCheck >= esIntervalSteps && optimizer.finalStore.size > esMin) {
          stepsSinceCheck = 0
          val runningTrials = trials.values.filter(t =>
            t.status == TrialStatus.Running && !t.earlyStop)
          val toStop = esRule.check(runningTrials, optimizer.finalStore.toSeq, direction)
          toStop.foreach(tid => trials.get(tid).foreach(_.earlyStop = true))
        }
      }
    }
}

object DriverServer {
  /** The wire shape Reporter.logMetric emits. */
  private[exec] val MetricLine = """metric ([^=\n]+)=(\S+)""".r

  /** Default live log relay: print each executor train-fn line on the
    * driver console under its trial prefix as it arrives (the reference's
    * executor-print experience, reporter.py:166-170, surfaced driver-side). */
  val consoleSink: (String, String) => Unit =
    (trialId, line) => Console.out.println(s"[$trialId] $line")
}
