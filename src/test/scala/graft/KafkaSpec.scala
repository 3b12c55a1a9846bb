package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Kafka

/** Kafka envelope normalization (O2-O4 + quirk Q7): CDC insert filter,
  * per-topic field mapping, strftime-vs-raw time handling — tested on
  * literal JSON envelopes (the broker itself needs the connector jar,
  * absent here; normalize is the whole deserialization semantics). */
class KafkaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("NEEQ topic: insert kept + formatted time; $set update and o-less doc dropped") {
    val values = Seq(
      """{"o": {"st_name": "甲公司", "st_code": "830001", "title": "债券临时报告",
            "publish_date": "2024-01-02T03:04:05.000Z", "url": "http://x/1"}}""",
      """{"o": {"st_name": "乙公司", "st_code": "830002", "title": "t",
            "publish_date": "2024-01-02T03:04:05.000Z", "url": "u", "$set": "price"}}""",
      """{"o": {"st_name": "丁公司", "st_code": "830003", "title": "t2",
            "publish_date": "2024-01-02T03:04:05.000Z", "url": "u2",
            "$set": {"title": "updated"}}}""",
      """{"op": "n"}"""
    ).toDF("value")
    val got = Kafka.normalize(Kafka.Neeq)(values).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getAs[String]("cmpShortName") == "甲公司")
    assert(r.getAs[String]("cmpCode") == "830001")
    assert(r.getAs[String]("title") == "债券临时报告")
    assert(r.getAs[String]("pubTime") == "2024-01-02 03:04:05") // strftime (kafka_s.py:181)
    assert(r.getAs[String]("srcUrl") == "http://x/1")
    assert(r.getAs[String]("srcType") == "新三板公告")
  }

  test("A-share topic: different field names, etl_time passed RAW (kafka_a.py:183)") {
    val values = Seq(
      """{"o": {"stock_name": "丙公司", "stock_code": "600001", "title": "年报",
            "etl_time": "2024-03-04 05:06:07", "url": "http://x/2"}}"""
    ).toDF("value")
    val r = Kafka.normalize(Kafka.AShare)(values).collect()(0)
    assert(r.getAs[String]("cmpShortName") == "丙公司")
    assert(r.getAs[String]("pubTime") == "2024-03-04 05:06:07") // no reformat
    assert(r.getAs[String]("srcType") == "A股公告")
  }

  test("an A-share event keeps its topic's srcType through Pipeline.enrich") {
    val values = Seq(
      """{"o": {"stock_name": "src1", "stock_code": "600002",
            "title": "spark streaming engine", "etl_time": "2024-03-04 05:06:07",
            "url": "http://x/3"}}"""
    ).toDF("value")
    val out = graft.operators.Pipeline.enrich(spark,
      Kafka.normalize(Kafka.AShare)(values),
      graft.operators.RuleClassifier.rulesDim(spark)).collect()
    assert(out.nonEmpty, "the title matches fixture rule 4 ('spark')")
    assert(out.map(_.getAs[String]("srcType")).toSet == Set("A股公告"))
  }

  test("Kafka.source reaches connector resolution (fails finding kafka, not before)") {
    // no spark-sql-kafka jar in the sandbox; resolution failure proves
    // the builder wiring is live (same proof shape as MongoSpec)
    val e = intercept[Throwable] {
      Kafka.source(spark, "localhost:9092", Kafka.Neeq)
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    assert(msgs.toLowerCase.contains("kafka"), msgs)
  }

  // ---- BSON wire form (kafka_s.py:157 BSON.decode) ----------------
  // Test-side mini-encoder, written independently against the public
  // BSON 1.1 spec (bsonspec.org): document = int32 total length (LE),
  // elements (type byte, cstring key, value), 0x00 terminator.

  private def le32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def le64(v: Long): Array[Byte] =
    (0 until 8).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray
  private def cstr(s: String): Array[Byte] =
    s.getBytes("UTF-8") :+ 0.toByte
  private def bstr(k: String, v: String): Array[Byte] = {
    val b = v.getBytes("UTF-8")
    Array(0x02.toByte) ++ cstr(k) ++ le32(b.length + 1) ++ b :+ 0.toByte
  }
  private def bdoc(k: String, inner: Array[Byte]): Array[Byte] =
    Array(0x03.toByte) ++ cstr(k) ++ inner
  private def bdate(k: String, epochMs: Long): Array[Byte] =
    Array(0x09.toByte) ++ cstr(k) ++ le64(epochMs)
  private def bint(k: String, v: Int): Array[Byte] =
    Array(0x10.toByte) ++ cstr(k) ++ le32(v)
  private def doc(elements: Array[Byte]*): Array[Byte] = {
    val body = elements.flatten.toArray
    le32(4 + body.length + 1) ++ body :+ 0.toByte
  }

  test("BsonToJson golden: the bsonspec.org example document decodes exactly") {
    import org.apache.spark.unsafe.types.UTF8String
    // spec front-page example: {"hello": "world"} =
    // \x16\x00\x00\x00\x02hello\x00\x06\x00\x00\x00world\x00\x00
    val spec = Array[Int](0x16, 0, 0, 0, 0x02, 'h', 'e', 'l', 'l', 'o', 0,
      0x06, 0, 0, 0, 'w', 'o', 'r', 'l', 'd', 0, 0).map(_.toByte)
    assert(doc(bstr("hello", "world")).sameElements(spec)) // encoder sanity
    assert(graft.functions.BsonToJson.kernel(spec) ==
      UTF8String.fromString("""{"hello":"world"}"""))
    // malformed input → null, not an exception
    assert(graft.functions.BsonToJson.kernel(spec.dropRight(2)) == null)
    assert(graft.functions.BsonToJson.kernel(Array[Byte](1, 2, 3)) == null)
    // nesting bomb → null, not StackOverflowError (depth cap)
    val bomb = (1 to 5000).foldLeft(doc()) { (inner, _) => doc(bdoc("k", inner)) }
    assert(graft.functions.BsonToJson.kernel(bomb) == null)
    // moderate nesting still decodes
    val nested = doc(bdoc("a", doc(bdoc("b", doc(bstr("c", "v"))))))
    assert(graft.functions.BsonToJson.kernel(nested) ==
      org.apache.spark.unsafe.types.UTF8String.fromString("""{"a":{"b":{"c":"v"}}}"""))
  }

  test("BsonToJson: full type coverage — double, bool, null, int32/64, array, ObjectId, binary") {
    import org.apache.spark.unsafe.types.UTF8String
    def bdouble(k: String, v: Double): Array[Byte] =
      Array(0x01.toByte) ++ cstr(k) ++ le64(java.lang.Double.doubleToLongBits(v))
    def bbool(k: String, v: Boolean): Array[Byte] =
      Array(0x08.toByte) ++ cstr(k) :+ (if (v) 1 else 0).toByte
    def bnull(k: String): Array[Byte] = Array(0x0A.toByte) ++ cstr(k)
    def blong(k: String, v: Long): Array[Byte] =
      Array(0x12.toByte) ++ cstr(k) ++ le64(v)
    def barr(k: String, inner: Array[Byte]): Array[Byte] =
      Array(0x04.toByte) ++ cstr(k) ++ inner
    def boid(k: String, hex12: Array[Byte]): Array[Byte] =
      Array(0x07.toByte) ++ cstr(k) ++ hex12
    def bbin(k: String, bytes: Array[Byte]): Array[Byte] =
      Array(0x05.toByte) ++ cstr(k) ++ le32(bytes.length) ++ Array(0x00.toByte) ++ bytes
    val oid = (1 to 12).map(_.toByte).toArray
    val b = doc(
      bdouble("d", 2.5), bbool("t", true), bbool("f", false), bnull("z"),
      bint("i", -7), blong("l", 1234567890123L),
      barr("a", doc(bstr("0", "x"), bint("1", 2))), // BSON arrays key by index
      boid("_id", oid), bbin("bin", Array(1.toByte, 2.toByte)))
    val got = graft.functions.BsonToJson.kernel(b)
    assert(got == UTF8String.fromString(
      """{"d":2.5,"t":true,"f":false,"z":null,"i":-7,"l":1234567890123,""" +
        """"a":["x",2],"_id":"0102030405060708090a0b0c","bin":"AQI="}"""))
  }

  test("fuzz: BsonToJson never throws — random bytes and single-byte mutations of valid docs") {
    val rnd = new scala.util.Random(9)
    (1 to 2000).foreach { _ =>
      val b = Array.fill(rnd.nextInt(64))(rnd.nextInt(256).toByte)
      graft.functions.BsonToJson.kernel(b) // null or a value; must not throw
    }
    val valid = doc(bstr("hello", "world"), bint("n", 7),
      bdoc("o", doc(bstr("st_name", "x"), bdate("d", 1704164645000L))))
    valid.indices.foreach { i =>
      (0 until 4).foreach { _ =>
        val mutated = valid.clone()
        mutated(i) = rnd.nextInt(256).toByte
        graft.functions.BsonToJson.kernel(mutated)
      }
    }
  }

  test("BSON oplog envelope: decode + normalize; $set partial dropped; junk dropped") {
    val epochMs = 1704164645000L // 2024-01-02T03:04:05Z
    val insert = doc(bdoc("o", doc(
      bstr("st_name", "甲公司"), bstr("st_code", "830001"),
      bstr("title", "债券临时报告"), bdate("publish_date", epochMs),
      bstr("url", "http://x/1"))))
    val partial = doc(bdoc("o", doc(
      bstr("st_name", "乙公司"), bstr("st_code", "830002"),
      bstr("title", "t"), bdate("publish_date", epochMs), bstr("url", "u"),
      bdoc("$set", doc(bstr("title", "updated"))))))
    val junk = Array[Byte](0x7f, 0x00, 0x01)
    val other = doc(bint("op", 1))
    val values = Seq(insert, partial, junk, other).toDF("value")
    val got = Kafka.normalizeBson(Kafka.Neeq)(values).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getAs[String]("cmpShortName") == "甲公司")
    assert(r.getAs[String]("cmpCode") == "830001")
    assert(r.getAs[String]("title") == "债券临时报告")
    assert(r.getAs[String]("pubTime") == "2024-01-02 03:04:05")
    assert(r.getAs[String]("srcUrl") == "http://x/1")
  }
}
