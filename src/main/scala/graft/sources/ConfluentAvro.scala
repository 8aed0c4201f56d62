package graft.sources

import graft.Schemas._
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** The reference's Kafka wire edge: Confluent-framed Avro
  * (magic byte 0x0 + 4-byte big-endian schema id + Avro binary body —
  * the format the reference's producer emits via AvroSerializer +
  * SchemaRegistryClient, health_simulator.py:154-192).
  *
  * Spark's `from_avro` lives in the external spark-avro module (absent
  * here), and it would not strip the 5-byte header anyway
  * (SURVEY.md §7.4) — so the codec is built directly on org.apache.avro
  * with the health-event schema of `schema.tf:4-151`, surfaced as typed
  * UDFs. A Kafka source would compose
  * `readStream.format("kafka")` → [[decodeHealthEvent]]; none ships
  * until the spark-sql-kafka connector is part of the build.
  */
object ConfluentAvro {

  /** Avro twin of `schema.tf:4-151` (event_time carried as
    * timestamp-millis, the Kafka record-timestamp stand-in). */
  val healthEventSchemaJson: String =
    """{
      "type": "record", "name": "health_event", "namespace": "graft",
      "fields": [
        {"name": "event_id", "type": "string"},
        {"name": "patient_id", "type": "int"},
        {"name": "device_metadata", "type": {"type": "record", "name": "device_metadata", "fields": [
          {"name": "device_type", "type": "string"},
          {"name": "battery_level", "type": "int"},
          {"name": "sensor_status", "type": "string"}]}},
        {"name": "vitals", "type": {"type": "record", "name": "vitals", "fields": [
          {"name": "heart_rate", "type": "int"},
          {"name": "blood_oxygen_spO2", "type": "int"},
          {"name": "blood_pressure", "type": {"type": "record", "name": "blood_pressure", "fields": [
            {"name": "systolic", "type": "int"},
            {"name": "diastolic", "type": "int"}]}},
          {"name": "body_temperature_c", "type": "float"}]}},
        {"name": "event_time", "type": {"type": "long", "logicalType": "timestamp-millis"}}
      ]}"""

  @transient private lazy val schema: Schema =
    new Schema.Parser().parse(healthEventSchemaJson)

  val MagicByte: Byte = 0x0

  /** Serialize one event with the 5-byte Confluent header. */
  def encode(e: HealthEvent, schemaId: Int = 1): Array[Byte] = {
    val rec = new GenericData.Record(schema)
    rec.put("event_id", e.event_id)
    rec.put("patient_id", e.patient_id)
    val dm = new GenericData.Record(schema.getField("device_metadata").schema())
    dm.put("device_type", e.device_metadata.device_type)
    dm.put("battery_level", e.device_metadata.battery_level)
    dm.put("sensor_status", e.device_metadata.sensor_status)
    rec.put("device_metadata", dm)
    val vs = schema.getField("vitals").schema()
    val v = new GenericData.Record(vs)
    v.put("heart_rate", e.vitals.heart_rate)
    v.put("blood_oxygen_spO2", e.vitals.blood_oxygen_spO2)
    val bp = new GenericData.Record(vs.getField("blood_pressure").schema())
    bp.put("systolic", e.vitals.blood_pressure.systolic)
    bp.put("diastolic", e.vitals.blood_pressure.diastolic)
    v.put("blood_pressure", bp)
    v.put("body_temperature_c", e.vitals.body_temperature_c)
    rec.put("vitals", v)
    rec.put("event_time", e.event_time.getTime)
    val body = new java.io.ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(body, null)
    new GenericDatumWriter[GenericRecord](schema).write(rec, enc)
    enc.flush()
    java.nio.ByteBuffer.allocate(5 + body.size())
      .put(MagicByte).putInt(schemaId).put(body.toByteArray).array()
  }

  /** Deserialize one Confluent-framed payload. */
  def decode(bytes: Array[Byte]): HealthEvent = {
    require(bytes.length > 5 && bytes(0) == MagicByte,
      s"not Confluent-framed Avro (len=${bytes.length})")
    val dec = DecoderFactory.get().binaryDecoder(bytes, 5, bytes.length - 5, null)
    val rec = new GenericDatumReader[GenericRecord](schema).read(null, dec)
    def s(x: AnyRef): String = x.toString
    val dm = rec.get("device_metadata").asInstanceOf[GenericRecord]
    val v = rec.get("vitals").asInstanceOf[GenericRecord]
    val bp = v.get("blood_pressure").asInstanceOf[GenericRecord]
    HealthEvent(
      s(rec.get("event_id")),
      rec.get("patient_id").asInstanceOf[Int],
      DeviceMetadata(s(dm.get("device_type")),
        dm.get("battery_level").asInstanceOf[Int], s(dm.get("sensor_status"))),
      Vitals(
        v.get("heart_rate").asInstanceOf[Int],
        v.get("blood_oxygen_spO2").asInstanceOf[Int],
        BloodPressure(bp.get("systolic").asInstanceOf[Int],
          bp.get("diastolic").asInstanceOf[Int]),
        v.get("body_temperature_c").asInstanceOf[Float]),
      new java.sql.Timestamp(rec.get("event_time").asInstanceOf[Long]))
  }

  /** The reference's on-the-wire Avro schema VERBATIM
    * (health_simulator.py:29-73 / schema.tf:4-151): identical field
    * tree except there is NO event_time field in the body — the
    * reference reads event time from the Kafka record timestamp
    * (`$rowtime`, flink_statements.tf:178). */
  val referenceSchemaJson: String =
    """{
      "namespace": "health_events", "name": "health_event", "type": "record",
      "fields": [
        {"name": "event_id", "type": "string"},
        {"name": "patient_id", "type": "int"},
        {"name": "device_metadata", "type": {"type": "record", "name": "device_metadata", "fields": [
          {"name": "device_type", "type": "string"},
          {"name": "battery_level", "type": "int"},
          {"name": "sensor_status", "type": "string"}]}},
        {"name": "vitals", "type": {"type": "record", "name": "vitals", "fields": [
          {"name": "heart_rate", "type": "int"},
          {"name": "blood_oxygen_spO2", "type": "int"},
          {"name": "blood_pressure", "type": {"type": "record", "name": "blood_pressure", "fields": [
            {"name": "systolic", "type": "int"},
            {"name": "diastolic", "type": "int"}]}},
          {"name": "body_temperature_c", "type": "float"}]}}
      ]}"""

  @transient private lazy val refSchema: Schema =
    new Schema.Parser().parse(referenceSchemaJson)

  /** Parse the 5-byte Confluent header; returns (schemaId, bodyOffset).
    * The decoder accepts ANY schema id (the reference registers its
    * schema under whatever id the registry assigns; consumers key off
    * the topic, not the id). */
  def readHeader(bytes: Array[Byte]): (Int, Int) = {
    require(bytes.length > 5 && bytes(0) == MagicByte,
      s"not Confluent-framed Avro (len=${bytes.length})")
    val id = java.nio.ByteBuffer.wrap(bytes, 1, 4).getInt
    (id, 5)
  }

  /** Deserialize one payload in the reference's EXACT wire schema (no
    * in-body event_time); `recordTimestampMs` is the Kafka record
    * timestamp the reference's `$rowtime` would supply. This is the
    * decode a migrating user's existing topics need. */
  def decodeReferenceFrame(bytes: Array[Byte], recordTimestampMs: Long): HealthEvent = {
    val (_, off) = readHeader(bytes)
    val dec = DecoderFactory.get().binaryDecoder(bytes, off, bytes.length - off, null)
    val rec = new GenericDatumReader[GenericRecord](refSchema).read(null, dec)
    def s(x: AnyRef): String = x.toString
    val dm = rec.get("device_metadata").asInstanceOf[GenericRecord]
    val v = rec.get("vitals").asInstanceOf[GenericRecord]
    val bp = v.get("blood_pressure").asInstanceOf[GenericRecord]
    HealthEvent(
      s(rec.get("event_id")),
      rec.get("patient_id").asInstanceOf[Int],
      DeviceMetadata(s(dm.get("device_type")),
        dm.get("battery_level").asInstanceOf[Int], s(dm.get("sensor_status"))),
      Vitals(
        v.get("heart_rate").asInstanceOf[Int],
        v.get("blood_oxygen_spO2").asInstanceOf[Int],
        BloodPressure(bp.get("systolic").asInstanceOf[Int],
          bp.get("diastolic").asInstanceOf[Int]),
        v.get("body_temperature_c").asInstanceOf[Float]),
      new java.sql.Timestamp(recordTimestampMs))
  }

  /** Column twin of [[decodeReferenceFrame]]: `value` + the Kafka
    * record's `timestamp` column → health-event struct, for
    * `readStream.format("kafka")` against a topic the reference's
    * producer filled. */
  def decodeReferenceEvent(value: Column, recordTimestamp: Column): Column = {
    val f = udf((bytes: Array[Byte], ts: java.sql.Timestamp) =>
      decodeReferenceFrame(bytes, ts.getTime))
    f(value, recordTimestamp)
  }

  /** Column-level decoder: binary Kafka `value` → nested health-event
    * struct (a Scala UDF; the hot path stays small — decode once, then
    * all downstream ops are codegen'd Catalyst). */
  def decodeHealthEvent(value: Column): Column = {
    val f = udf((bytes: Array[Byte]) => decode(bytes))
    f(value)
  }

  def encodeHealthEvent(event: Column): Column = {
    val f = udf((e: HealthEvent) => encode(e))
    f(event)
  }
}
