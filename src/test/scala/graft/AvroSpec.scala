package graft

import java.io.ByteArrayOutputStream

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{AvroSchemas, GraftFunctions => GF}

class AvroSpec extends SparkTestBase {

  private val writerStruct = StructType(Seq(
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = true),
    StructField("value", DoubleType, nullable = true),
    StructField("tags", ArrayType(StringType, containsNull = false), nullable = true)))

  private val writerSchema = AvroSchemas.toAvro(writerStruct, "ev")

  private def encode(schema: Schema)(set: GenericRecord => Unit): Array[Byte] = {
    val rec = new GenericData.Record(schema)
    set(rec)
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](schema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  private def payloads: Seq[Array[Byte]] = Seq(
    encode(writerSchema) { r =>
      r.put("user_id", 1L); r.put("event_type", "click"); r.put("value", 2.5)
      r.put("tags", java.util.List.of("a", "b"))
    },
    encode(writerSchema) { r =>
      r.put("user_id", 2L); r.put("event_type", null); r.put("value", null)
      r.put("tags", null)
    })

  private def df = {
    val s0 = spark
    import s0.implicits._
    payloads.toDF("value")
  }

  test("schema round-trip: StructType -> avro -> StructType") {
    assert(AvroSchemas.toSpark(writerSchema) == writerStruct)
  }

  test("project preserves field aliases (rename-based resolution survives pruning)") {
    val json = """{"type":"record","name":"ev","fields":[
      {"name":"new_name","aliases":["old_name"],"type":"long"},
      {"name":"other","type":"string"}]}"""
    val reader = new Schema.Parser().parse(json)
    val pruned = AvroSchemas.project(reader, Seq("new_name"))
    assert(pruned.getFields.size() == 1)
    assert(pruned.getFields.get(0).aliases().contains("old_name"))
  }

  test("decodes records incl. null-union branches and arrays") {
    val rows = df.select(GF.from_avro(col("value"), writerSchema.toString).as("e"))
      .select("e.*").orderBy("user_id").collect()
    assert(rows(0).getLong(0) == 1L && rows(0).getString(1) == "click"
      && rows(0).getDouble(2) == 2.5 && rows(0).getSeq[String](3) == Seq("a", "b"))
    assert(rows(1).getLong(0) == 2L && rows(1).isNullAt(1) && rows(1).isNullAt(2)
      && rows(1).isNullAt(3))
  }

  test("projection: explicit pruned reader schema byte-skips other fields") {
    val reader = AvroSchemas.project(writerSchema, Seq("event_type"))
    val rows = df.select(GF.from_avro(col("value"), writerSchema.toString, reader.toString).as("e"))
      .select("e.event_type").collect()
    assert(rows.map(r => Option(r.getString(0))).toSet == Set(Some("click"), None))
  }

  test("schema evolution: reader field absent from writer resolves to default") {
    val evolved = AvroSchemas.toAvro(writerStruct.add(
      StructField("new_col", StringType, nullable = true)), "ev")
    val rows = df.select(GF.from_avro(col("value"), writerSchema.toString, evolved.toString).as("e"))
      .select("e.user_id", "e.new_col").orderBy("user_id").collect()
    assert(rows.length == 2 && rows.forall(_.isNullAt(1)))
  }

  test("malformed payloads decode to null and are filterable (drop semantics)") {
    val s0 = spark
    import s0.implicits._
    val junk = (payloads :+ Array[Byte](1, 2)) :+ Array.empty[Byte]
    val decoded = junk.toDF("value")
      .select(GF.from_avro(col("value"), writerSchema.toString).as("e"))
    assert(decoded.count() == 4)
    assert(decoded.filter(col("e").isNotNull).count() == 2)
  }

  test("encode->decode round-trip is identity over random values (property)") {
    val s0 = spark
    import s0.implicits._
    import graft.functions.{GraftFunctions => GFF}
    val rnd = new scala.util.Random(42)
    val rows = (0 until 300).map { i =>
      (if (rnd.nextBoolean()) Some(rnd.nextLong()) else None,
        if (rnd.nextBoolean()) Some(rnd.nextString(rnd.nextInt(20))) else None,
        if (rnd.nextBoolean()) Some(rnd.nextDouble()) else None,
        if (rnd.nextBoolean()) Some((0 until rnd.nextInt(5)).map(_ => rnd.nextInt().toString)) else None)
    }
    val df = rows.toDF("user_id", "event_type", "value", "tags")
    val schemaJson = AvroSchemas.toAvro(df.schema, "rt").toString
    val back = df
      .select(GFF.to_avro(struct(df.columns.toIndexedSeq.map(col): _*), schemaJson).as("v"))
      .select(GFF.from_avro(col("v"), schemaJson).as("e"))
      .select("e.*")
    assert(back.collect().toSeq.sortBy(_.toString) == df.collect().toSeq.sortBy(_.toString))
  }

  test("encode handles union[T, null] branch order (not just Rakam's [null, T])") {
    val s0 = spark
    import s0.implicits._
    import graft.functions.{GraftFunctions => GFF}
    // legal Avro, reversed branch order: value branch is index 0, null is 1
    val reversed = """{"type":"record","name":"rv","fields":[
      {"name":"user_id","type":"long"},
      {"name":"event_type","type":["string","null"]}]}"""
    val df = Seq((1L, Some("click")), (2L, None)).toDF("user_id", "event_type")
    val back = df
      .select(GFF.to_avro(struct(col("user_id"), col("event_type")), reversed).as("v"))
      .select(GFF.from_avro(col("v"), reversed).as("e"))
      .select("e.*").orderBy("user_id").collect()
    assert(back(0).getLong(0) == 1L && back(0).getString(1) == "click")
    assert(back(1).getLong(0) == 2L && back(1).isNullAt(1))
  }

  // ---- nested composites (beyond reference: its decoder threw on RECORD/MAP,
  // PageDatumReader.java:156-160) ----

  private val nestedStruct = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("kind", StringType, nullable = true),
      StructField("score", DoubleType, nullable = false),
      StructField("depth", IntegerType, nullable = false))), nullable = true),
    StructField("attrs", MapType(StringType, LongType, valueContainsNull = false),
      nullable = true)))

  test("nested schema round-trip: struct/map -> avro -> struct/map") {
    val avro = AvroSchemas.toAvro(nestedStruct, "nv")
    assert(AvroSchemas.toSpark(avro) == nestedStruct)
  }

  test("nested record + map encode->decode round-trip is identity") {
    val s0 = spark
    import s0.implicits._
    import graft.functions.{GraftFunctions => GFF}
    val rows = Seq(
      (1L, Some(("a", 1.5, 3)), Some(Map("x" -> 10L, "y" -> 20L))),
      (2L, None, Some(Map.empty[String, Long])),
      (3L, Some((null.asInstanceOf[String], 0.0, 0)), None))
    val df = rows.toDF("id", "meta", "attrs")
      .select(col("id"),
        when(col("meta").isNotNull, struct(col("meta._1").as("kind"),
          col("meta._2").as("score"), col("meta._3").as("depth"))).as("meta"),
        col("attrs"))
    val schemaJson = AvroSchemas.toAvro(df.schema, "nv").toString
    val back = df
      .select(GFF.to_avro(struct(df.columns.toIndexedSeq.map(col): _*), schemaJson).as("v"))
      .select(GFF.from_avro(col("v"), schemaJson).as("e"))
      .select("e.*")
    assert(back.collect().toSeq.sortBy(_.toString) == df.collect().toSeq.sortBy(_.toString))
  }

  test("nested-field pruning: e.meta.kind shrinks the reader to meta.kind only") {
    val s0 = spark
    import s0.implicits._
    import graft.functions.{GraftFunctions => GFF}
    val src = Seq((1L, ("a", 1.5, 3), Map("x" -> 1L)), (2L, ("b", 2.5, 4), Map("y" -> 2L)))
    val base = src.toDF("id", "m", "attrs")
      .select(col("id"), struct(col("m._1").as("kind"), col("m._2").as("score"),
        col("m._3").as("depth")).as("meta"), col("attrs"))
    val schemaJson = AvroSchemas.toAvro(base.schema, "nv").toString
    val payloadRows = base
      .select(GFF.to_avro(struct(base.columns.toIndexedSeq.map(col): _*), schemaJson).as("v"))
      .collect().map(_.getAs[Array[Byte]](0)).toSeq
    // RDD-backed so ConvertToLocalRelation can't fold the decode away
    val rddDf = s0.createDataset(s0.sparkContext.parallelize(payloadRows, 1)).toDF("value")
    val q = rddDf.select(GFF.from_avro(col("value"), schemaJson).as("e"), lit(1).as("k"))
      .select(col("e.meta.kind").as("kind"), col("k"))
    val decoded = q.queryExecution.optimizedPlan.expressions
      .flatMap(_.collect { case d: graft.functions.AvroDecode => d })
    assert(decoded.nonEmpty)
    val reader = new Schema.Parser().parse(decoded.head.readerSchemaJson)
    assert(reader.getFields.size() == 1 && reader.getFields.get(0).name() == "meta",
      s"outer not pruned: $reader")
    val (rec, _) = AvroSchemas.unwrapNullable(reader.getFields.get(0).schema())
    assert(rec.getFields.size() == 1 && rec.getFields.get(0).name() == "kind",
      s"inner not pruned: $rec")
    assert(q.collect().map(_.getString(0)).toSet == Set("a", "b"))
  }

  test("PruneAvroDecode rewrites the reader schema to referenced fields only") {
    val s0 = spark
    import s0.implicits._
    // RDD-backed (not a LocalRelation) so ConvertToLocalRelation can't
    // constant-fold the decode away before our rule sees it
    val rddDf = s0.createDataset(s0.sparkContext.parallelize(payloads, 1)).toDF("value")
    val q = rddDf.select(GF.from_avro(col("value"), writerSchema.toString).as("e"), lit(1).as("k"))
      .select(col("e.event_type"), col("k"))
    val optimized = q.queryExecution.optimizedPlan
    val decoded = optimized.expressions
      .flatMap(_.collect { case d: graft.functions.AvroDecode => d })
    assert(decoded.nonEmpty, s"no AvroDecode in optimized plan:\n$optimized")
    val readerFields = new Schema.Parser().parse(decoded.head.readerSchemaJson)
      .getFields
    assert(readerFields.size() == 1 && readerFields.get(0).name() == "event_type",
      s"reader not pruned: $readerFields")
    // and values are still right
    assert(q.collect().map(r => Option(r.getString(0))).toSet == Set(Some("click"), None))
  }
}
