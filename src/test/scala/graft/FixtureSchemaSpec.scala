package graft

import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Guards against driver-side fixture regeneration drifting physical
  * parquet types under the loader (VERDICT r12 "what's wrong" #1: the
  * events.ts physical type changed TIMESTAMP(NANOS) → timestamp[us]
  * between commits and the unconditional nanos rewrite crashed every
  * events-reading query). Loads every fixture at every scale factor and
  * asserts each column's POST-LOAD logical type — the contract the 138
  * registry queries actually compile against. If the driver regenerates
  * with yet another encoding, this fails with the table/column/type
  * named instead of 24 queries crashing downstream.
  */
class FixtureSchemaSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.local(2)

  override def afterAll(): Unit = spark.stop()

  private val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1").map(s => s"/root/testdata/$s")

  /** Expected post-load logical schema per table: name → (column → type).
    * Timestamps: the loader must normalize events.ts to TimestampType
    * regardless of physical encoding; date-like TPC-H columns are accepted
    * as either TimestampType, TimestampNTZType, or DateType (queries cast
    * explicitly where semantics demand it).
    */
  private val timestampLike: Set[DataType] =
    Set(TimestampType, TimestampNTZType, DateType)

  private val expected: Map[String, Seq[(String, Either[DataType, Set[DataType]])]] = Map(
    "region"   -> Seq("r_regionkey" -> Left(IntegerType), "r_name" -> Left(StringType)),
    "nation"   -> Seq("n_nationkey" -> Left(IntegerType), "n_name" -> Left(StringType),
                      "n_regionkey" -> Left(IntegerType)),
    "customer" -> Seq("c_custkey" -> Left(LongType), "c_name" -> Left(StringType),
                      "c_nationkey" -> Left(IntegerType), "c_acctbal" -> Left(DoubleType),
                      "c_mktsegment" -> Left(StringType)),
    "supplier" -> Seq("s_suppkey" -> Left(LongType), "s_name" -> Left(StringType),
                      "s_nationkey" -> Left(IntegerType), "s_acctbal" -> Left(DoubleType)),
    "part"     -> Seq("p_partkey" -> Left(LongType), "p_name" -> Left(StringType),
                      "p_brand" -> Left(StringType), "p_type" -> Left(StringType),
                      "p_size" -> Left(IntegerType), "p_retailprice" -> Left(DoubleType)),
    "orders"   -> Seq("o_orderkey" -> Left(LongType), "o_custkey" -> Left(LongType),
                      "o_totalprice" -> Left(DoubleType),
                      "o_orderdate" -> Right(timestampLike)),
    "lineitem" -> Seq("l_orderkey" -> Left(LongType), "l_partkey" -> Left(LongType),
                      "l_suppkey" -> Left(LongType), "l_quantity" -> Left(DoubleType),
                      "l_extendedprice" -> Left(DoubleType), "l_discount" -> Left(DoubleType),
                      "l_returnflag" -> Left(StringType),
                      "l_shipdate" -> Right(timestampLike)),
    // The one column the loader actively normalizes: must be exactly
    // TimestampType post-load, whatever the parquet stores.
    "events"   -> Seq("event_id" -> Left(LongType), "ts" -> Left(TimestampType),
                      "user_id" -> Left(LongType), "event_type" -> Left(StringType),
                      "value" -> Left(DoubleType), "props" -> Left(StringType)),
    "documents" -> Seq("doc_id" -> Left(LongType), "text" -> Left(StringType),
                       "lang" -> Left(StringType), "source" -> Left(StringType),
                       "n_chars" -> Left(LongType)),
    "embeddings" -> Seq("vec_id" -> Left(LongType),
                        "embedding" -> Left(ArrayType(FloatType, containsNull = true)),
                        "label" -> Left(IntegerType))
  )

  for (dir <- sfDirs; table <- Tables.names) {
    test(s"$dir/$table loads with the contracted logical schema") {
      val df = Tables.load(spark, dir, table)
      val actual = df.schema.map(f => f.name -> f.dataType).toMap
      expected(table).foreach { case (col, want) =>
        val got = actual.getOrElse(col,
          fail(s"$table.$col missing after load — fixture columns: ${actual.keys.mkString(", ")}"))
        want match {
          case Left(t) => assert(got == t, s"$table.$col: expected $t, fixture loaded as $got")
          case Right(ts) => assert(ts.contains(got), s"$table.$col: expected one of $ts, got $got")
        }
      }
      // Non-empty at every SF: an empty fixture means regeneration failed.
      assert(df.limit(1).count() == 1, s"$table at $dir is empty")
    }
  }

  test("events.ts normalizes to TimestampType and survives a round-trip through event-time ops") {
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    // The exact operation that crashed in r12: any expression over ts.
    val windowed = ev.groupBy(window(col("ts"), "1 hour")).count()
    assert(windowed.limit(1).count() == 1)
    // Instants must be sane (fixture generates recent-ish epochs, not 1970).
    val minYear = ev.agg(min(year(col("ts")))).first().getInt(0)
    assert(minYear >= 2000, s"events.ts decoded to implausible year $minYear — unit mismatch in conversion")
  }

  test("events load FAILS LOUDLY in a non-UTC session instead of silently shifting instants") {
    // ADVICE r13: the NTZ->LTZ cast is instant-correct only because every
    // entry point pins spark.sql.session.timeZone=UTC. A forgotten pin
    // must be an error at load, not a skew in every event-time result.
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val e = intercept[IllegalArgumentException] {
        Tables.load(spark, "/root/testdata/sf0.001", "events")
      }
      assert(e.getMessage.contains("UTC"))
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
    // and the UTC path still loads
    assert(Tables.load(spark, "/root/testdata/sf0.001", "events").limit(1).count() == 1)
  }
}
