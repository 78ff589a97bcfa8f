package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.schema.FieldCatalog

class PayloadsSpec extends AnyFunSuite {
  private def gen(seed: Long) = Payloads(seed, sensors = 20, polls = 6, startEpoch = 1709251200L,
    spacingSeconds = 2700L)

  test("the same seed gives byte-identical payloads; another seed does not") {
    val a = (0 until 6).map(gen(7).payload)
    val b = (0 until 6).map(gen(7).payload)
    assert(a.map(_.getBytes("UTF-8").toSeq) == b.map(_.getBytes("UTF-8").toSeq))
    assert((0 until 6).map(gen(8).payload) != a)
  }

  test("a payload carries every catalog field once per sensor, in its wire type") {
    val p = gen(3)
    val text = p.payload(0)
    assert(p.requestedFields.size == FieldCatalog.fields.size + 1)
    FieldCatalog.fields.foreach(f => assert(text.contains("\"" + f.apiName + "\"")))
    // sensor rows: one opening bracket per sensor inside "data"
    val data = text.substring(text.indexOf("\"data\":[") + 8)
    assert(data.count(_ == '[') == 20)
    // text fields are JSON strings, numeric fields bare numbers
    val name = FieldCatalog.fields.indexWhere(_.apiName == "name")
    val pm = FieldCatalog.fields.indexWhere(_.apiName == "pm2.5")
    assert(p.wire(0, 0, name).startsWith("\""))
    assert(p.wire(0, 0, pm).matches("""\d+\.\d"""))
  }

  test("sensor ids are distinct and names never contain the directory separator") {
    val p = gen(11)
    assert(p.sensorIds.distinct.size == p.sensorIds.size)
    assert((0 until 20).forall(s => !p.sensorName(s).contains(", ")))
  }

  test("the hourly model finalizes only buckets past the 2 h watermark") {
    val p = gen(5)
    // polls every 45 min from 00:00: the 6th poll is at 03:45, so the
    // watermark is 01:45 and only the 00:00 bucket (polls 00:00, 00:45) is final
    val rows = p.expectedHourly(6)
    assert(rows.map(_.bucket).distinct == Seq(1709251200L))
    assert(rows.size == 20 && rows.forall(_.n == 2))
  }
}
