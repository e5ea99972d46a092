package graft.nats

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDate, LocalDateTime}

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import com.fasterxml.jackson.core.exc.StreamReadException

import org.apache.spark.sql.types._

/** Payload-driven schema inference for `format("nats")` —
  * `option("inferSchema", "true")` instead of an explicit `.schema(...)`.
  *
  * The reference ADVERTISES this ("The crate infers the schema for the NATS
  * data based on the NATS message payload", reference README.md:9) but never
  * implemented it (its own TODO list, README.md:17; no inference code exists
  * anywhere in src/). This module closes that reference TODO with defined
  * semantics:
  *
  *   - a bounded sample of payloads is read at table-resolution time, on the
  *     driver: from the transport's retention window when it has one (non-
  *     destructive, deterministic — the memory bus / a JetStream-style
  *     broker), else from a short live subscription bounded by
  *     `inferTimeoutMs` (fire-and-forget core NATS: sampled messages are
  *     consumed by the sampler, exactly like any other subscriber);
  *   - per column, the inferred type is the MOST SPECIFIC of the codec's six
  *     types that strictly parses every sampled value, tried in the order
  *     Int32 → Float64 → Boolean → Timestamp → Date → Utf8 — the same strict
  *     parse rules as read-time (CsvCodec/JsonCodec), so an inferred schema
  *     never rejects the very payloads it was inferred from;
  *   - payloads that are malformed under ANY schema (wrong arity vs the
  *     first payload, empty CSV tokens, JSON nulls/nesting) are skipped,
  *     mirroring the source's skip-malformed-keep-streaming read policy
  *     (reference src/executor.rs:140-144); inference fails only if no
  *     usable payload arrives or two valid payloads genuinely conflict
  *     (e.g. JSON `true` vs `42` on one key — no codec type holds both);
  *   - fields are non-nullable, like every codec schema (SURVEY §1.2:
  *     the reference has no null path at all).
  *
  * CSV columns are named `_c0.._cN` (the headerless-CSV convention); JSON
  * fields take the first sampled object's key order.
  */
object SchemaInference {

  /** Read up to `n` payloads for inference. Retention-capable transports
    * are sampled non-destructively from the newest retained messages;
    * otherwise a live subscription collects until `n` or the timeout.
    * Wildcard subjects always sample live (a family has no single
    * retention sequence). */
  def sample(url: String, subject: String, n: Int, timeoutMs: Long,
      tls: Option[(String, String)] = None): Seq[String] = {
    require(n > 0, s"inferSamples must be positive, got $n")
    val conn = NatsTransport.connect(url, tls)
    try {
      val literal = !subject.exists(c => c == '*' || c == '>')
      val retained = conn match {
        case r: ReplayableNatsConnection if literal => Some((r, r.retainedWindow(subject)))
        case _ => None
      }
      retained match {
        case Some((r, (earliest, current))) if current > 0 =>
          val after = math.max(earliest - 1, current - n)
          r.fetchRetained(subject, after, n).map(new String(_, UTF_8)).toSeq
        case _ =>
          val q = new java.util.concurrent.LinkedBlockingQueue[String]()
          val sub = conn.subscribe(subject)(p => { q.add(new String(p, UTF_8)); () })
          try {
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            val deadline = System.nanoTime() + timeoutMs * 1000000L
            while (out.size < n && System.nanoTime() < deadline) {
              val m = q.poll(20, java.util.concurrent.TimeUnit.MILLISECONDS)
              if (m != null) out += m
            }
            out.toSeq
          } finally sub.close()
      }
    } finally conn.close()
  }

  def infer(codecName: String, payloads: Seq[String]): StructType =
    codecName.toLowerCase match {
      case "csv"  => inferCsv(payloads)
      case "json" => inferJson(payloads)
      case other  => throw new IllegalArgumentException(
        s"Unsupported payload codec: '$other'. Supported: csv, json")
    }

  // ---- CSV ----------------------------------------------------------------

  /** Candidate order = specificity. A value like "1" is an Int32 before it
    * is a Boolean; "true"+"1" in one column unify to Boolean because Int32
    * and Float64 fail on "true" first. Utf8 is the universal fallback —
    * every non-empty CSV token is a string. */
  private val csvCandidates =
    Seq(IntegerType, DoubleType, BooleanType, TimestampType, DateType)

  // Single-field codecs reuse the EXACT read-time parse rules; building
  // them once here keeps inference O(samples × fields × candidates).
  private val csvProbes: Map[DataType, CsvCodec] =
    csvCandidates.map(dt =>
      dt -> CsvCodec.strict(StructType(Seq(StructField("x", dt, nullable = false))))).toMap

  private def inferCsv(payloads: Seq[String]): StructType = {
    val rows = payloads.map(_.split(",", -1))
    val arity = rows.headOption.map(_.length).getOrElse(
      throw new IllegalArgumentException(
        "Cannot infer a schema from zero payloads: nothing was published on " +
          "the subject within the sampling window (raise inferTimeoutMs, or " +
          "declare .schema(...) explicitly)"))
    // Skip payloads malformed under any schema (read-time would skip them
    // too): arity disagreement with the first payload, or empty tokens.
    val usable = rows.filter(r => r.length == arity && r.forall(_.nonEmpty))
    if (usable.isEmpty)
      throw new IllegalArgumentException(
        s"None of the ${payloads.size} sampled payloads is well-formed CSV " +
          s"of a consistent arity (first payload has $arity fields)")
    val fields = (0 until arity).map { i =>
      val values = usable.map(_(i))
      val dt = csvCandidates.find(c =>
        values.forall(v => csvProbes(c).parse(v).isRight)).getOrElse(StringType)
      StructField(s"_c$i", dt, nullable = false)
    }
    StructType(fields)
  }

  // ---- JSON ---------------------------------------------------------------

  private val jsonFactory = new JsonFactory()

  /** Per-occurrence kind, before unification. */
  private sealed trait Kind
  private case object KInt extends Kind
  private case object KDouble extends Kind
  private case object KBool extends Kind
  private case object KTimestamp extends Kind
  private case object KDate extends Kind
  private case object KString extends Kind

  /** Least upper bound of two observed kinds, or None when no codec type
    * holds both (a genuine conflict — inference must fail, not guess). */
  private def unify(a: Kind, b: Kind): Option[Kind] = (a, b) match {
    case _ if a == b                    => Some(a)
    case (KInt, KDouble) | (KDouble, KInt) => Some(KDouble)
    // every JSON string is a string; timestamp/date are refinements
    case (KTimestamp | KDate | KString, KTimestamp | KDate | KString) => Some(KString)
    case _                              => None
  }

  private def toDataType(k: Kind): DataType = k match {
    case KInt       => IntegerType
    case KDouble    => DoubleType
    case KBool      => BooleanType
    case KTimestamp => TimestampType
    case KDate      => DateType
    case KString    => StringType
  }

  private def stringKind(s: String): Kind =
    if (scala.util.Try(LocalDateTime.parse(s, CsvCodec.tsFormat)).isSuccess) KTimestamp
    else if (scala.util.Try(LocalDate.parse(s, CsvCodec.dateFormat)).isSuccess) KDate
    else KString

  /** One flat object → (key → kind) in key order, or None if the payload
    * is malformed under any schema (not an object, nested, null values,
    * duplicate keys, trailing content). */
  private def jsonKinds(payload: String): Option[Seq[(String, Kind)]] = {
    val parser = jsonFactory.createParser(payload)
    try {
      if (parser.nextToken() != JsonToken.START_OBJECT) return None
      val out = scala.collection.mutable.LinkedHashMap.empty[String, Kind]
      var tok = parser.nextToken()
      while (tok == JsonToken.FIELD_NAME) {
        val key = parser.currentName()
        if (out.contains(key)) return None
        val kind = parser.nextToken() match {
          case JsonToken.VALUE_NUMBER_INT =>
            val v = parser.getLongValue
            if (v >= Int.MinValue && v <= Int.MaxValue) KInt else KDouble
          case JsonToken.VALUE_NUMBER_FLOAT        => KDouble
          case JsonToken.VALUE_TRUE | JsonToken.VALUE_FALSE => KBool
          case JsonToken.VALUE_STRING              => stringKind(parser.getText)
          case _                                   => return None // null / nested
        }
        out.put(key, kind)
        tok = parser.nextToken()
      }
      if (tok != JsonToken.END_OBJECT || parser.nextToken() != null) return None
      Some(out.toSeq)
    } catch {
      // Same breadth as JsonCodec.parse: InputCoercionException (a JSON
      // integer beyond Long range) is a StreamReadException sibling of
      // JsonParseException — a sampled payload malformed in THAT way is
      // skipped like any other, never an inference crash.
      case _: StreamReadException => None
    } finally parser.close()
  }

  private def inferJson(payloads: Seq[String]): StructType = {
    if (payloads.isEmpty)
      throw new IllegalArgumentException(
        "Cannot infer a schema from zero payloads: nothing was published on " +
          "the subject within the sampling window (raise inferTimeoutMs, or " +
          "declare .schema(...) explicitly)")
    val parsed = payloads.flatMap(jsonKinds)
    if (parsed.isEmpty)
      throw new IllegalArgumentException(
        s"None of the ${payloads.size} sampled payloads is a flat JSON object")
    val keyOrder = parsed.head.map(_._1)
    val keySet = keyOrder.toSet
    // Strict field-set rule, like read-time: every payload must carry
    // exactly the same keys (order free).
    for (p <- parsed; keys = p.map(_._1).toSet; if keys != keySet)
      throw new IllegalArgumentException(
        s"Sampled JSON payloads disagree on the field set: {${keySet.toSeq.sorted.mkString(",")}} " +
          s"vs {${keys.toSeq.sorted.mkString(",")}} — declare .schema(...) explicitly")
    val kinds = scala.collection.mutable.Map.empty[String, Kind]
    for (p <- parsed; (k, kind) <- p)
      kinds(k) = kinds.get(k) match {
        case None       => kind
        case Some(prev) => unify(prev, kind).getOrElse(
          throw new IllegalArgumentException(
            s"Field '$k' has irreconcilable types across sampled payloads " +
              s"($prev vs $kind) — declare .schema(...) explicitly"))
      }
    StructType(keyOrder.map(k => StructField(k, toDataType(kinds(k)), nullable = false)))
  }
}
