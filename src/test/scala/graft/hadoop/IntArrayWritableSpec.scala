package graft.hadoop

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.hadoop.io.{ArrayWritable, IntWritable, Writable}
import org.scalatest.funsuite.AnyFunSuite

/** [[IntArrayWritable]] keeps a plain `int[]` but must stay, on the wire
  * and through its `Writable` views, the `ArrayWritable` of `IntWritable`
  * it extends; no Spark session. */
class IntArrayWritableSpec extends AnyFunSuite {

  private def bytes(w: Writable): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    w.write(new DataOutputStream(out))
    out.toByteArray
  }

  private val cases = Seq(Array.empty[Int], Array(7), Array(0, 1, 2, 300, -5, Int.MaxValue, Int.MinValue),
    Array.tabulate(1000)(i => i * 31))

  test("write emits the bytes of an ArrayWritable of IntWritable holding the same ids") {
    for (ids <- cases) {
      val w = new IntArrayWritable()
      w.set(ids)
      val plain = new ArrayWritable(classOf[IntWritable], ids.map(v => new IntWritable(v): Writable))
      assert(bytes(w).sameElements(bytes(plain)), ids.take(8).mkString(","))
    }
  }

  test("readFields round-trips, and reads what an ArrayWritable wrote") {
    for (ids <- cases) {
      val w = new IntArrayWritable()
      w.set(ids)
      val back = new IntArrayWritable()
      back.set(Array(1, 2, 3)) // replaced, not appended to
      back.readFields(new DataInputStream(new ByteArrayInputStream(bytes(w))))
      assert(back.getValues.sameElements(ids))
      val plain = new ArrayWritable(classOf[IntWritable], ids.map(v => new IntWritable(v): Writable))
      val fromPlain = new IntArrayWritable()
      fromPlain.readFields(new DataInputStream(new ByteArrayInputStream(bytes(plain))))
      assert(fromPlain.values.sameElements(ids))
    }
  }

  test("get() boxes IntWritables; getValues and values return the set ids") {
    val ids = Array(4, 8, 15, 16, 23, 42)
    val w = new IntArrayWritable()
    w.set(ids)
    assert(w.getValues.sameElements(ids))
    assert(w.values.sameElements(ids))
    val boxed = w.get()
    assert(boxed.forall(_.isInstanceOf[IntWritable]))
    assert(boxed.map(_.asInstanceOf[IntWritable].get()).sameElements(ids))
    assert(w.toArray.getClass == classOf[Array[IntWritable]])
    assert(w.toStrings.sameElements(ids.map(_.toString)))
    assert(w.getValueClass == classOf[IntWritable])

    val fromWritables = new IntArrayWritable(ids.map(new IntWritable(_)))
    assert(fromWritables.getValues.sameElements(ids))
    val viaSet = new IntArrayWritable()
    viaSet.set(ids.map(v => new IntWritable(v): Writable))
    assert(viaSet.values.sameElements(ids))
    assert(viaSet.toString == new ArrayWritable(classOf[IntWritable],
      ids.map(v => new IntWritable(v): Writable)).toString)
  }
}
