package graftbench

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.server.GraftServer

/** `serve`: an in-process GraftServer driven over loopback HTTP by a
  * closed loop of up to 4 clients, each waiting for its reply. Four in
  * five requests are probed IVF (probes 4, k 10), the fifth IVF+SQ8
  * (probes 16, candidates 100); every target is a distinct corpus row
  * plus noise. */
object Serve {
  import VectorStore.N
  val K = 10
  /** Warm-up requests, run in windows of `WarmWindow` whose rates the
    * stamp shows. The server's rate keeps rising while the JIT compiles
    * the request path; on 4 cores it settles after about 600 requests,
    * more than a run has time for. A fixed count, rather than a stop
    * rule, puts every run's timed phase at the same point of that
    * curve. */
  val WarmRequests = 300
  val WarmWindow = 75

  final case class Req(kind: String, source: Long, target: Array[Double]) {
    def body: String = {
      val common = s""""sources":["${VectorStore.Table}"],"column":"${VectorStore.Col}",""" +
        s""""target":[${target.mkString(",")}],"coding":"${VectorStore.Coding}","k":$K,"select":["id"]"""
      if (kind == "ivf") s"""{$common,"probes":4}"""
      else s"""{$common,"probes":16,"candidates":100,"idCol":"id","sq":true}"""
    }
  }

  def run(run: Run): Unit = {
    val seed = run.args.seed
    val clients = math.min(4, run.nproc)
    var server: GraftServer = null
    val engine = VectorStore.setups(run) { e =>
      if (server != null) server.stop()
      server = new GraftServer(e).start()
    }
    val port = server.boundPort
    val corpus = VectorStore.corpus(seed)
    val perm = permutation(seed, N)
    // timed requests walk the permutation forwards, warm-up backwards,
    // so no target repeats
    def req(i: Int, warm: Boolean): Req = {
      val src = if (warm) perm(N - 1 - i) else perm(i)
      // every fifth request is an SQ8 search, so each run has the same mix
      val kind = if (i % 5 == 4) "sq" else "ivf"
      Req(kind, src, Gen.queryNear(seed, if (warm) 7 else 6, src, corpus(src.toInt)))
    }
    val answers = new ConcurrentLinkedQueue[(OpRec, Req, Seq[Long], Seq[Double])]()
    val mapper = new ObjectMapper()

    def one(i: Int, warm: Boolean, lane: Int): Unit = {
      val r = req(i, warm)
      val op = run.newOp(r.kind, warm)
      op.items = 1
      op.lane = lane
      run.timed(op, root = "server.request") {
        // with tracing on every request is tagged on the server's thread,
        // so an untraced one's jobs are not booked to its thread's last op
        if (run.tracer.enabled)
          engine.expect(r.target, op.id, run.tracer.context.fold(0L)(_._2), op.traced)
        val body = post(port, r.body)
        op.responseBytes = body.length
        val rows = mapper.readTree(body).get("rows").elements().asScala.toSeq
        (rows.map(_.get("id").asLong()), rows.map(_.get("__DISTANCE__").asDouble()))
      }.foreach { case (ids, ds) => if (!warm) answers.add((op, r, ids, ds)) }
    }

    /** `clients` closed-loop clients issue requests until `stop` says so;
      * returns the requests completed and the seconds taken. */
    def loop(next: AtomicInteger, warm: Boolean)(stop: Int => Boolean): (Int, Double) = {
      val t0 = System.nanoTime()
      val done = new AtomicInteger()
      val threads = (0 until clients).map { lane =>
        new Thread(() => {
          var i = next.getAndIncrement()
          while (!stop(i)) { one(i, warm, lane); done.incrementAndGet(); i = next.getAndIncrement() }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      (done.get, (System.nanoTime() - t0) / 1e9)
    }

    val (_, warmSecs) = run.secs {
      val rates = (1 to WarmRequests / WarmWindow).map { w =>
        val (n, s) = loop(new AtomicInteger((w - 1) * WarmWindow), warm = true)(_ >= w * WarmWindow)
        n / s
      }
      run.put("warmup_rates", rates)
      run.put("warmup_requests", WarmRequests)
    }
    run.put("warmup_s", warmSecs)

    val t0 = System.nanoTime()
    run.put("t0_ns", t0)
    val deadline = t0 + (run.args.seconds * 1e9).toLong
    loop(new AtomicInteger(), warm = false)(_ => System.nanoTime() >= deadline)

    answers.asScala.foreach { case (op, r, ids, ds) =>
      val got = if (run.forceWrong()) ids.reverse else ids
      Oracle.checkTopK(corpus, r.target, K, got, ds, r.source)
        .foreach(op.fail(_, check = true))
      run.addRecall(got, Oracle.topK(corpus, r.target, K).toSeq)
    }
    VectorStore.storeFacts(run, engine)
    if (run.tracer.enabled) VectorStore.probes(run, engine, req(0, warm = true).target)
    server.stop()
  }

  def permutation(seed: Long, n: Int): Array[Long] = {
    val a = Array.tabulate(n)(_.toLong)
    val r = Gen.rng(seed, 8, 0)
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  def post(port: Int, body: String): String = {
    val c = new URL(s"http://127.0.0.1:$port/api/search").openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setConnectTimeout(10000)
    c.setReadTimeout(60000)
    c.setRequestProperty("Content-Type", "application/json")
    val os = c.getOutputStream
    try os.write(body.getBytes(StandardCharsets.UTF_8)) finally os.close()
    val code = c.getResponseCode
    val in = if (code == 200) c.getInputStream else c.getErrorStream
    val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    if (code != 200) throw new IllegalStateException(s"HTTP $code: ${text.take(200)}")
    text
  }
}
