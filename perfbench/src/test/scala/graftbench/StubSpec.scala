package graftbench

import graft.llm.{ChatMessage, FakeBehavior, LMRequest, OpenAICompatLM}
import org.scalatest.funsuite.AnyFunSuite

class StubSpec extends AnyFunSuite {

  test("the stub answers by rule, sends logprobs and counts what it served") {
    val stub = new LmStub(Map(
      "kw" -> FakeBehavior.KeywordFilter("good"),
      "kw-prob" -> FakeBehavior.KeywordFilterProb("good", jitter = 0.0)), serviceMs = 5)
    try {
      def req(text: String) =
        LMRequest(Seq(ChatMessage("user", s"Context:\n[Text]: «$text»\n\nClaim: it is good")))
      val plain = OpenAICompatLM(stub.endpoint, "kw", maxRetries = 1)
      val out = plain.complete(Seq(req("a good day"), req("a bad day")))
      assert(out.map(_.output) == Seq("Answer: True", "Answer: False"))
      val prob = OpenAICompatLM(stub.endpoint, "kw-prob", maxRetries = 1, withLogprobs = true)
      val p = prob.complete(Seq(req("a good day"), req("a bad day"))).map(_.positiveProb.get)
      assert(math.abs(p(0) - 0.9) < 1e-9 && math.abs(p(1) - 0.1) < 1e-9)
      assert(stub.requests("kw") == 2 && stub.requests("kw-prob") == 2)
      assert(stub.totalRequests == 4 && stub.failed == 0)
      assert(stub.tokens > 0 && stub.maxInflight >= 1)
      assert(stub.latencies.length == 4 && stub.latencies.forall(_ >= 5.0))
      // Unknown models are refused, not answered.
      assert(intercept[Exception](
        OpenAICompatLM(stub.endpoint, "nope", maxRetries = 1).complete(Seq(req("x")))) != null)
    } finally stub.stop()
  }
}
