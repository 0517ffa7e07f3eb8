package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class SessionsSpec extends AnyFunSuite {

  test("cluster envelope carries the reference's execution knobs") {
    val e = Sessions.clusterEnvelope
    assert(e("spark.dynamicAllocation.enabled") == "true")
    assert(e("spark.shuffle.service.enabled") == "true")
    assert(e("spark.sql.adaptive.coalescePartitions.minPartitionNum") == "1")
    assert(e("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "10")
    // reference executor sizing (etl-on-gcp-vinicius-campos.py:81-83)
    assert(e("spark.dynamicAllocation.minExecutors") == "5")
    assert(e("spark.dynamicAllocation.initialExecutors") == "10")
    assert(e("spark.dynamicAllocation.maxExecutors") == "30")
  }

  test("local session runs with AQE + nanos + sized codegen cache") {
    val s = SparkSpec.session // shared spec session, built via withDefaults
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(s.conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "65536")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("cluster builder composes without clobbering the base defaults") {
    val b = Sessions.cluster(SparkSession.builder())
    // the Builder keeps its pending configs in a (private) options map;
    // read it reflectively so the composition is actually verified
    def fields(c: Class[_]): Seq[java.lang.reflect.Field] =
      if (c == null) Nil else c.getDeclaredFields.toSeq ++ fields(c.getSuperclass)
    val f = fields(b.getClass).find(_.getName.endsWith("options"))
      .getOrElse(fail("Builder options field not found"))
    f.setAccessible(true)
    val opts = f.get(b).asInstanceOf[scala.collection.mutable.HashMap[String, String]]
    Sessions.clusterEnvelope.foreach { case (k, v) =>
      assert(opts.get(k).contains(v), s"cluster knob $k")
    }
    // base withDefaults settings must survive the envelope fold
    assert(opts.get("spark.sql.session.timeZone").contains("UTC"))
    assert(opts.get("spark.sql.adaptive.enabled").contains("true"))
  }

  test("scratch and warehouse roots lie under the JVM's working directory") {
    val cwd = java.nio.file.Paths.get(sys.props("user.dir"))
      .toAbsolutePath.normalize
    Seq(Scratch.scratch, Scratch.warehouse).foreach { d =>
      assert(java.nio.file.Paths.get(d).normalize.startsWith(cwd), d)
    }
  }

  test("withConf restores a changed key and unsets a previously unset one") {
    val s = SparkSpec.session
    val changed = "spark.sql.shuffle.partitions"
    val unset = "graft.spec.withConf"
    val before = s.conf.get(changed)
    val seen = Sessions.withConf(s)(changed -> "7", unset -> "on") {
      (s.conf.get(changed), s.conf.getOption(unset))
    }
    assert(seen == ("7", Some("on")))
    assert(s.conf.get(changed) == before)
    assert(s.conf.getOption(unset).isEmpty)
  }

  test("withConf restores both kinds of key when the body throws") {
    val s = SparkSpec.session
    val changed = "spark.sql.shuffle.partitions"
    // a registered conf left unset: it must come back unset, not pinned
    // to its default value
    val unset = "spark.sql.parquet.aggregatePushdown"
    val before = s.conf.get(changed)
    assert(!s.conf.getAll.contains(unset))
    intercept[IllegalStateException] {
      Sessions.withConf(s)(changed -> "7", unset -> "true") {
        throw new IllegalStateException("boom")
      }
    }
    assert(s.conf.get(changed) == before)
    assert(!s.conf.getAll.contains(unset))
  }
}
