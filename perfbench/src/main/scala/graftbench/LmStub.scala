package graftbench

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, ThreadFactory,
  TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.llm.{ChatMessage, FakeBehavior, LMRequest, Tokens}

/** An OpenAI-compatible chat-completions endpoint on 127.0.0.1, inside the
  * bench process. The request's `model` picks the [[FakeBehavior]] rule that
  * answers it. Each answer is sent after a fixed service time by a
  * scheduler, so many requests wait at once without holding threads: two
  * handler threads and one timer serve every concurrent caller.
  */
final class LmStub(rules: Map[String, FakeBehavior], val serviceMs: Long) {
  LmStub.configureServer()
  private val mapper = new ObjectMapper()
  private def daemon(name: String): ThreadFactory = (r: Runnable) => {
    val t = new Thread(r, name)
    t.setDaemon(true)
    t
  }
  private val handlers = Executors.newFixedThreadPool(2, daemon("lm-stub-http"))
  private val timer = Executors.newSingleThreadScheduledExecutor(daemon("lm-stub-timer"))
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 512)

  private val inflight = new AtomicInteger()
  private val inflightMax = new AtomicInteger()
  private val promptTokens = new AtomicLong()
  private val failures = new AtomicLong()
  private val byModel = new ConcurrentHashMap[String, AtomicLong]()
  private val latencyMs = new ConcurrentLinkedQueue[java.lang.Double]()

  server.setExecutor(handlers)
  server.createContext("/v1/chat/completions", (ex: HttpExchange) => handle(ex))
  server.start()

  val endpoint: String =
    s"http://127.0.0.1:${server.getAddress.getPort}/v1/chat/completions"

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val now = inflight.incrementAndGet()
    inflightMax.accumulateAndGet(now, (a, b) => math.max(a, b))
    val (status, body) =
      try {
        val req = mapper.readTree(ex.getRequestBody.readAllBytes())
        val model = req.path("model").asText("")
        byModel.computeIfAbsent(model, _ => new AtomicLong()).incrementAndGet()
        val msgs = (0 until req.path("messages").size()).map { i =>
          val m = req.path("messages").path(i)
          ChatMessage(m.path("role").asText(""), m.path("content").asText(""))
        }
        promptTokens.addAndGet(msgs.map(m => Tokens.estimate(m.content).toLong).sum)
        val lmReq = LMRequest(msgs)
        rules.get(model) match {
          case Some(rule) => (200, respond(rule, lmReq, req.path("logprobs").asBoolean(false)))
          case None => (404, s"""{"error":"unknown model $model"}""")
        }
      } catch {
        case e: Exception => (500, s"""{"error":"${e.getClass.getSimpleName}"}""")
      }
    if (status != 200) failures.incrementAndGet()
    val bytes = body.getBytes("UTF-8")
    timer.schedule((() => {
      try {
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(status, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      } catch { case _: java.io.IOException => failures.incrementAndGet() }
      finally {
        ex.close()
        inflight.decrementAndGet()
        latencyMs.add((System.nanoTime() - t0) / 1e6)
      }
    }): Runnable, serviceMs, TimeUnit.MILLISECONDS)
  }

  private def respond(rule: FakeBehavior, req: LMRequest, logprobs: Boolean): String = {
    val root = mapper.createObjectNode()
    val choice = root.putArray("choices").addObject()
    choice.putObject("message").put("role", "assistant").put("content", rule.answer(req))
    (rule, logprobs) match {
      case (p: FakeBehavior.ProbBehavior, true) =>
        val pPos = p.positiveProb(req)
        val tok = choice.putObject("logprobs").putArray("content").addObject()
        tok.put("token", if (pPos >= 0.5) "True" else "False")
        val top = tok.putArray("top_logprobs")
        top.addObject().put("token", "True").put("logprob", math.log(pPos))
        top.addObject().put("token", "False").put("logprob", math.log(1.0 - pPos))
      case _ =>
    }
    mapper.writeValueAsString(root)
  }

  def requests(model: String): Long = Option(byModel.get(model)).map(_.get).getOrElse(0L)
  def totalRequests: Long = {
    import scala.jdk.CollectionConverters._
    byModel.values.asScala.map(_.get).sum
  }
  def tokens: Long = promptTokens.get
  def failed: Long = failures.get
  def maxInflight: Int = inflightMax.get
  def latencies: Seq[Double] = {
    import scala.jdk.CollectionConverters._
    latencyMs.asScala.toSeq.map(_.doubleValue)
  }

  def resetStats(): Unit = {
    inflightMax.set(0); promptTokens.set(0); failures.set(0)
    byModel.clear(); latencyMs.clear()
  }

  def stop(): Unit = {
    server.stop(0)
    timer.shutdownNow()
    handlers.shutdownNow()
    timer.awaitTermination(5, TimeUnit.SECONDS)
    handlers.awaitTermination(5, TimeUnit.SECONDS)
  }
}

object LmStub {
  /** The JDK server closes idle keep-alive connections beyond 200 at once
    * by default, while the client keeps up to `cores × maxBatchSize` of
    * them; a connection closed under the client surfaces as a failed LM
    * call. Instead, idle connections close after a few seconds, which also
    * bounds the sockets left behind by finished tasks' clients. Read once,
    * when the first server starts.
    */
  def configureServer(): Unit = {
    System.setProperty("sun.net.httpserver.maxIdleConnections", "4096")
    System.setProperty("sun.net.httpserver.idleInterval", "5")
    System.setProperty("sun.net.httpserver.clockTick", "1000")
  }
}
