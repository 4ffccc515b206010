package graft

import graft.operators.Materialized

/** The per-(session, dir) memo behind every operator's materialized
  * state: one build per key, reference-keyed sessions, and a
  * session-end eviction that clears one session across all memos. */
class MaterializedSpec extends SparkSpec {

  private final class Counted[T](build: => T) {
    var builds = 0
    val memo = Materialized[T]()
    def apply(s: org.apache.spark.sql.SparkSession, dir: String): T =
      memo(s, dir) { builds += 1; build }
  }

  test("a memo builds once per (session, dir) and returns the same instance") {
    val m = new Counted(new AnyRef)
    val a = m(spark, "dirA")
    assert(m(spark, "dirA") eq a)
    assert(m.builds == 1)
    val b = m(spark, "dirB")
    assert(m.builds == 2 && !(b eq a), "another dir builds its own entry")
    val other = spark.newSession()
    val c = m(other, "dirA")
    assert(m.builds == 3 && !(c eq a), "another session builds its own entry")
    assert(m(other, "dirA") eq c)
    assert(m(spark, "dirA") eq a)
    assert(m.builds == 3)
  }

  test("session-end eviction clears that session's entries from every memo, and only those") {
    val m1 = new Counted(new AnyRef)
    val m2 = new Counted(new AnyRef)
    val other = spark.newSession()
    val kept = (m1(spark, "d"), m2(spark, "d"))
    val gone = (m1(other, "d"), m2(other, "d"))
    assert(m1.builds == 2 && m2.builds == 2)
    Materialized.evict(other)
    assert(m1(spark, "d") eq kept._1)
    assert(m2(spark, "d") eq kept._2)
    assert(m1.builds == 2 && m2.builds == 2, "the live session's entries survive")
    assert(!(m1(other, "d") eq gone._1))
    assert(!(m2(other, "d") eq gone._2))
    assert(m1.builds == 3 && m2.builds == 3, "the evicted session rebuilds")
  }
}
