package graft.nats

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** Transport-layer semantics: core-NATS queue groups on the in-process bus
  * (each message reaches exactly one member per group; plain subscribers
  * still see everything), subject validation and URL-scheme routing.
  */
class NatsTransportSpec extends AnyFunSuite {

  private def freshBus(): String = "memory://transport-" + UUID.randomUUID()

  test("queue group: members split a subject, each message delivered to exactly one member") {
    val conn = NatsTransport.connect(freshBus())
    try {
      val a = new AtomicInteger(); val b = new AtomicInteger()
      val all = new AtomicInteger()
      val subA = conn.subscribe("work", Some("g1"))((_, _, _) => a.incrementAndGet())
      val subB = conn.subscribe("work", Some("g1"))((_, _, _) => b.incrementAndGet())
      val plain = conn.subscribe("work")(_ => all.incrementAndGet())
      (1 to 10).foreach(i => conn.publish("work", s"m$i".getBytes))
      // exactly-one per group: the two members partition the 10 messages
      assert(a.get + b.get === 10)
      // bus round-robins deterministically -> an even split
      assert(a.get === 5 && b.get === 5)
      // plain (non-queue) subscription is unaffected: sees every message
      assert(all.get === 10)
      subA.close(); subB.close(); plain.close()
    } finally conn.close()
  }

  test("queue group: independent groups each receive the full stream once") {
    val conn = NatsTransport.connect(freshBus())
    try {
      val g1 = new AtomicInteger(); val g2 = new AtomicInteger()
      val s1 = conn.subscribe("fanout", Some("g1"))((_, _, _) => g1.incrementAndGet())
      val s2 = conn.subscribe("fanout", Some("g1"))((_, _, _) => g1.incrementAndGet())
      val s3 = conn.subscribe("fanout", Some("g2"))((_, _, _) => g2.incrementAndGet())
      (1 to 6).foreach(i => conn.publish("fanout", s"m$i".getBytes))
      assert(g1.get === 6, "group g1 (2 members) must receive each message exactly once")
      assert(g2.get === 6, "group g2 (1 member) must receive each message exactly once")
      Seq(s1, s2, s3).foreach(_.close())
    } finally conn.close()
  }

  test("queue group: a closed member stops receiving; survivors absorb the full stream") {
    val conn = NatsTransport.connect(freshBus())
    try {
      val a = new AtomicInteger(); val b = new AtomicInteger()
      val subA = conn.subscribe("drain", Some("g"))((_, _, _) => a.incrementAndGet())
      val subB = conn.subscribe("drain", Some("g"))((_, _, _) => b.incrementAndGet())
      (1 to 4).foreach(i => conn.publish("drain", s"m$i".getBytes))
      subA.close()
      val aAtClose = a.get
      (5 to 8).foreach(i => conn.publish("drain", s"m$i".getBytes))
      assert(a.get === aAtClose, "closed member must not receive further messages")
      assert(a.get + b.get === 8, "survivor must absorb the remainder exactly once")
      subB.close()
    } finally conn.close()
  }

  test("subject wildcards: * matches exactly one token, > matches the remaining tail") {
    // Core-NATS matching rules (NATS docs "Subject-Based Messaging"):
    // tokens are dot-separated; `*` spans one token; terminal `>` spans
    // one or more. Published subjects are always literal.
    import InMemoryBus.subjectMatches
    assert(subjectMatches("orders.*", "orders.us"))
    assert(subjectMatches("orders.*", "orders.eu"))
    assert(!subjectMatches("orders.*", "orders"))        // * needs a token
    assert(!subjectMatches("orders.*", "orders.us.west")) // * spans ONE token
    assert(subjectMatches("orders.>", "orders.us.west"))
    assert(subjectMatches("orders.>", "orders.us"))
    assert(!subjectMatches("orders.>", "orders"))        // > needs >=1 token
    assert(subjectMatches(">", "anything.at.all"))
    assert(subjectMatches("*.us", "orders.us"))
    assert(!subjectMatches("*.us", "orders.eu"))
    assert(!subjectMatches("orders.us", "orders.us.west")) // literal is exact
  }

  test("wildcard subscription receives from all matching concrete subjects") {
    val conn = NatsTransport.connect(freshBus())
    try {
      val star = new AtomicInteger(); val tail = new AtomicInteger()
      val lit = new AtomicInteger()
      val s1 = conn.subscribe("orders.*")(_ => star.incrementAndGet())
      val s2 = conn.subscribe("orders.>")(_ => tail.incrementAndGet())
      val s3 = conn.subscribe("orders.us")(_ => lit.incrementAndGet())
      conn.publish("orders.us", "a".getBytes)
      conn.publish("orders.eu", "b".getBytes)
      conn.publish("orders.us.west", "c".getBytes)
      conn.publish("shipments.us", "d".getBytes)
      assert(star.get === 2, "orders.* sees orders.us + orders.eu only")
      assert(tail.get === 3, "orders.> sees all three orders.# subjects")
      assert(lit.get === 1, "literal sees exactly its subject")
      Seq(s1, s2, s3).foreach(_.close())
    } finally conn.close()
  }

  test("same group name on different patterns forms distinct queue groups (NATS semantics)") {
    val conn = NatsTransport.connect(freshBus())
    try {
      val viaStar = new AtomicInteger(); val viaLit = new AtomicInteger()
      val s1 = conn.subscribe("logs.*", Some("g"))((_, _, _) => viaStar.incrementAndGet())
      val s2 = conn.subscribe("logs.app", Some("g"))((_, _, _) => viaLit.incrementAndGet())
      (1 to 4).foreach(i => conn.publish("logs.app", s"m$i".getBytes))
      // Both groups match, so BOTH deliver once per message — the group
      // key is (pattern, group), not the group name alone.
      assert(viaStar.get === 4 && viaLit.get === 4)
      Seq(s1, s2).foreach(_.close())
    } finally conn.close()
  }

  test("invalid subjects and patterns are rejected at the call site, not silently never-matched") {
    // Real NATS answers -ERR 'Invalid Subject' at subscribe/publish time;
    // a typo'd subscription must not become a consumer that receives
    // nothing (ADVICE r5).
    val conn = NatsTransport.connect(freshBus())
    try {
      intercept[IllegalArgumentException](conn.subscribe("a.>.b")(_ => ()))   // non-terminal >
      intercept[IllegalArgumentException](conn.subscribe("a..b")(_ => ()))    // empty token
      intercept[IllegalArgumentException](conn.subscribe("")(_ => ()))        // empty pattern
      intercept[IllegalArgumentException](conn.subscribe(".a")(_ => ()))      // leading dot
      intercept[IllegalArgumentException](conn.subscribe("x.>.y", Some("g"))((_, _, _) => ()))
      intercept[IllegalArgumentException](conn.publish("orders.*", "x".getBytes)) // wildcard publish
      intercept[IllegalArgumentException](conn.publish("orders.>", "x".getBytes))
      intercept[IllegalArgumentException](conn.publish("", "x".getBytes))
      intercept[IllegalArgumentException](conn.publish("a..b", "x".getBytes))
      // valid forms still work
      val n = new AtomicInteger()
      val s1 = conn.subscribe("a.*.c")(_ => n.incrementAndGet())
      conn.publish("a.b.c", "ok".getBytes)
      assert(n.get === 1)
      s1.close()
    } finally conn.close()
  }

  test("round-robin state is pruned when a queue group's last member unsubscribes") {
    val conn = NatsTransport.connect(freshBus())
    try {
      val n = new AtomicInteger()
      val sub = conn.subscribe("prune.me", Some("g"))((_, _, _) => n.incrementAndGet())
      conn.publish("prune.me", "m".getBytes)
      assert(n.get === 1)
      sub.close()
      // Re-subscribing after full drain starts a fresh group; delivery
      // still works and the old counter entry is gone (no unbounded rr
      // map growth across subscribe/unsubscribe churn — ADVICE r5).
      val again = new AtomicInteger()
      val sub2 = conn.subscribe("prune.me", Some("g"))((_, _, _) => again.incrementAndGet())
      conn.publish("prune.me", "m2".getBytes)
      assert(again.get === 1)
      sub2.close()
    } finally conn.close()
  }

  test("queue group requires a non-empty group name") {
    val conn = NatsTransport.connect(freshBus())
    try intercept[IllegalArgumentException](conn.subscribe("s", Some(""))((_, _, _) => ()))
    finally conn.close()
  }

  test("nats:// routes to the built-in wire client: a dead port fails with a connection error, not a classpath error") {
    // Port 1 on loopback: nothing listens there. The failure mode proves
    // the wire client actually dialed a socket (NatsWireSpec covers the
    // live path against MiniNatsServer).
    intercept[java.io.IOException](NatsTransport.connect("nats://127.0.0.1:1"))
  }

  test("unknown scheme is rejected") {
    Seq("kafka://x", "jnats://localhost:4222").foreach { url =>
      val e = intercept[IllegalArgumentException](NatsTransport.connect(url))
      assert(e.getMessage.contains("Unsupported NATS url"), e.getMessage)
    }
  }
}
