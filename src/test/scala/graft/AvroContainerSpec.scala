package graft

import graft.io.Sources
import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

class AvroContainerSpec extends SparkSpec {
  import spark.implicits._

  val schemaJson =
    """{"type":"record","name":"P","fields":[
      |{"name":"name","type":"string"},
      |{"name":"age","type":"int"}]}""".stripMargin

  test("readAvroContainer resolves an evolved reader schema (new nullable field)") {
    val writerSchema = new Schema.Parser().parse(schemaJson)
    val readerJson =
      """{"type":"record","name":"P","fields":[
        |{"name":"name","type":"string"},
        |{"name":"age","type":"int"},
        |{"name":"email","type":["null","string"],"default":null}]}""".stripMargin
    val dir = tempDir("graft-avro-evo")
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](writerSchema))
    w.create(writerSchema, dir.resolve("old.avro").toFile)
    val r = new GenericData.Record(writerSchema)
    r.put("name", "legacy"); r.put("age", 40)
    w.append(r); w.close()

    val df = Sources.readAvroContainer(spark, dir.toString, readerJson)
    assert(df.columns.toSeq == Seq("name", "age", "email"))
    val row = df.head()
    assert(row.getString(0) == "legacy" && row.getInt(1) == 40)
    assert(row.isNullAt(2)) // evolved field null-filled by schema resolution
  }

  test("readAvroContainer reads an Avro object container file end-to-end") {
    val schema = new Schema.Parser().parse(schemaJson)
    val dir = tempDir("graft-avro")
    val f = dir.resolve("people.avro").toFile
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, f)
    Seq(("example", 27), ("other", 31)).foreach { case (n, a) =>
      val r = new GenericData.Record(schema)
      r.put("name", n); r.put("age", a)
      w.append(r)
    }
    w.close()

    val df = Sources.readAvroContainer(spark, dir.toString, schemaJson)
    assert(df.columns.toSeq == Seq("name", "age"))
    assert(df.as[(String, Int)].collect().toSet ==
      Set(("example", 27), ("other", 31)))
  }
}
