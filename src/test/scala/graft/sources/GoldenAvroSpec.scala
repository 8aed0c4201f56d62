package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** Wire-format conformance against checked-in golden bytes.
  *
  * The fixtures under src/test/resources/golden_avro were produced by
  * tools/make_avro_golden.py — a hand-written Avro binary encoder built
  * straight from the public Avro 1.11 spec (zigzag varints, UTF-8
  * byte-length-prefixed strings, IEEE754-LE floats, declaration-order
  * fields) with the 5-byte Confluent frame health_simulator.py:185-191
  * emits. It shares NO code with org.apache.avro, so these tests pin
  * graft's decoder against an independent implementation of the wire
  * format: a framing, field-order, endianness, or varint bug in either
  * side fails loudly. `ref_NN.bin` carry the reference's EXACT topic
  * schema (no in-body event_time — $rowtime comes from the Kafka record
  * timestamp); `graft_NN.bin` carry graft's superset schema. */
class GoldenAvroSpec extends SparkSpec {

  private val dir = Paths.get(
    getClass.getResource("/golden_avro/expected.json").toURI).getParent

  private def bytes(name: String): Array[Byte] =
    Files.readAllBytes(dir.resolve(name))

  // minimal JSON field extraction (fixtures are flat, values simple)
  private val expectedJson = new String(
    Files.readAllBytes(dir.resolve("expected.json")), "UTF-8")
  private val records: Seq[Map[String, String]] = {
    val obj = "\\{[^{}]*\\}".r
    obj.findAllIn(expectedJson).toSeq.map { o =>
      "\"([a-z_0-9]+)\":\\s*(\"(?:[^\"\\\\]|\\\\.)*\"|-?[0-9.]+)".r
        .findAllMatchIn(o)
        .map(m => m.group(1) -> m.group(2).stripPrefix("\"").stripSuffix("\""))
        .toMap
    }
  }

  private def unescape(s: String): String =
    // the only escapes the generator can emit are \uXXXX for non-ASCII;
    // json.dump with default ensure_ascii=True escapes é and β
    "\\\\u([0-9a-fA-F]{4})".r.replaceAllIn(s,
      m => Integer.parseInt(m.group(1), 16).toChar.toString)

  test("golden fixtures exist and parse") {
    assert(records.size == 4, s"expected 4 records, got ${records.size}")
  }

  test("reference-schema frames decode to the expected rows (record-ts rowtime)") {
    records.zipWithIndex.foreach { case (e, i) =>
      val ts = e("event_time_ms").toLong
      val h = ConfluentAvro.decodeReferenceFrame(bytes(f"ref_$i%02d.bin"), ts)
      assert(h.event_id == unescape(e("event_id")), s"rec $i event_id")
      assert(h.patient_id == e("patient_id").toInt, s"rec $i patient_id")
      assert(h.device_metadata.device_type == e("device_type"))
      assert(h.device_metadata.battery_level == e("battery_level").toInt)
      assert(h.device_metadata.sensor_status == e("sensor_status"))
      assert(h.vitals.heart_rate == e("heart_rate").toInt)
      assert(h.vitals.blood_oxygen_spO2 == e("spo2").toInt)
      assert(h.vitals.blood_pressure.systolic == e("systolic").toInt)
      assert(h.vitals.blood_pressure.diastolic == e("diastolic").toInt)
      assert(h.vitals.body_temperature_c == e("body_temperature_c").toFloat)
      assert(h.event_time.getTime == ts, s"rec $i rowtime")
    }
    // the column twin on the Kafka-source shape: binary `value` plus the
    // record `timestamp`, decoded inside a DataFrame
    val sql = spark
    import sql.implicits._
    val frames = records.indices.map { i =>
      (bytes(f"ref_$i%02d.bin"),
        new java.sql.Timestamp(records(i)("event_time_ms").toLong))
    }
    val viaColumn = frames.toDF("value", "timestamp")
      .select(ConfluentAvro.decodeReferenceEvent(
        org.apache.spark.sql.functions.col("value"),
        org.apache.spark.sql.functions.col("timestamp")).as("e"))
      .select("e.*").as[graft.Schemas.HealthEvent].collect().toSeq
    assert(viaColumn == frames.map { case (b, ts) =>
      ConfluentAvro.decodeReferenceFrame(b, ts.getTime) })
  }

  test("graft-schema frames decode via the production decode()") {
    records.zipWithIndex.foreach { case (e, i) =>
      val h = ConfluentAvro.decode(bytes(f"graft_$i%02d.bin"))
      assert(h.event_id == unescape(e("event_id")))
      assert(h.patient_id == e("patient_id").toInt)
      assert(h.vitals.heart_rate == e("heart_rate").toInt)
      assert(h.event_time.getTime == e("event_time_ms").toLong,
        s"rec $i in-body event_time")
    }
  }

  test("header parsing: big-endian schema id, any id accepted, magic enforced") {
    val (id0, off) = ConfluentAvro.readHeader(bytes("ref_00.bin"))
    assert(id0 == 100042 && off == 5)
    assert(ConfluentAvro.readHeader(bytes("ref_03.bin"))._1 == 100045)
    assert(ConfluentAvro.readHeader(bytes("graft_00.bin"))._1 == 1)
    val bad = bytes("ref_00.bin").clone(); bad(0) = 0x1
    intercept[IllegalArgumentException](ConfluentAvro.readHeader(bad))
  }

  test("round-trip: graft encode() reproduces the independent golden bytes") {
    // Avro binary is canonical (no padding, no optional forms), so an
    // encoder conforming to the spec must emit byte-identical frames
    records.zipWithIndex.foreach { case (e, i) =>
      val h = ConfluentAvro.decode(bytes(f"graft_$i%02d.bin"))
      val re = ConfluentAvro.encode(h, schemaId = 1)
      assert(java.util.Arrays.equals(re, bytes(f"graft_$i%02d.bin")),
        s"rec $i: graft encode() diverges from the spec-authored bytes")
    }
  }
}
