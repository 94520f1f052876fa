package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft.Session's environment parsing, checked without starting a
  * session. */
class SessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: unset takes the default, a positive integer is used") {
    assert(Session.cpus(None, 7) == 7)
    assert(Session.cpus(Some("4"), 7) == 4)
    assert(Session.cpus(Some(" 16 "), 7) == 16)
  }

  test("SPARK_GRAFT_CPUS: anything but a positive integer is rejected by name") {
    Seq("abc", "0", "-2", "4]", "", "*", "2.5").foreach { bad =>
      val e = intercept[IllegalArgumentException](Session.cpus(Some(bad), 7))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(s"'$bad'"), bad)
    }
  }

  test("SPARK_GRAFT_EXTRA_CONF: key=value entries split on ';' and the first '='") {
    assert(Session.extraConf(None).isEmpty)
    assert(Session.extraConf(Some("")).isEmpty)
    assert(Session.extraConf(Some("a=b")) == Seq("a" -> "b"))
    assert(Session.extraConf(Some("spark.x=1;spark.y=k=v;spark.z=")) ==
      Seq("spark.x" -> "1", "spark.y" -> "k=v", "spark.z" -> ""))
  }

  test("SPARK_GRAFT_EXTRA_CONF: an entry without a key or '=' is rejected by name") {
    Seq("k", "a=b;;c", "a=b;", "=v", "a=b;c").foreach { bad =>
      val e = intercept[IllegalArgumentException](Session.extraConf(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_EXTRA_CONF") && e.getMessage.contains(bad), bad)
    }
  }

  test("the census settings size shuffles by the CPU count") {
    val conf = Session.settings(3).toMap
    assert(conf("spark.sql.shuffle.partitions") == "3")
    assert(conf("spark.local.dir") == Session.LocalDir)
    assert(conf("spark.sql.codegen.cache.maxEntries") == "10000")
  }
}
