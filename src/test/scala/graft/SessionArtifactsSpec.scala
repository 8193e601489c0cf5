package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.sources.Tables

/** The one lifecycle rule of [[SessionArtifacts]]: entries keyed by the
  * session object, released when a different session first calls the
  * registry, rebuilt on a changed stamp, never left behind by a failed
  * build, and counted in the ledger. */
class SessionArtifactsSpec extends SparkSpec {

  private def stats(kind: String): SessionArtifacts.Stats =
    SessionArtifacts.ledger.toMap.getOrElse(kind, SessionArtifacts.Stats(0, 0, 0))

  test("two sessions get distinct entries, each frame bound to its caller") {
    val s2 = spark.newSession()
    val a = Tables.load(spark, sf, "region")
    val b = Tables.load(s2, sf, "region")
    assert(a.sparkSession eq spark)
    assert(b.sparkSession eq s2)
    assert(!(a eq b))
    // back on the first session: its entries were released by the switch,
    // so it gets a fresh frame of its own, never the second session's
    val a2 = Tables.load(spark, sf, "region")
    assert(a2.sparkSession eq spark)
    assert(Tables.load(spark, sf, "region") eq a2, "same session must hit")
  }

  test("a session switch unpersists the previous owner's persisted frames") {
    val f = SessionArtifacts.get(spark, "spec_frame", "k")(
      spark.range(10).toDF("x").persist())
    assert(f.count() == 10)
    assert(f.storageLevel != StorageLevel.NONE)
    SessionArtifacts.get(spark.newSession(), "spec_frame", "k")(0)
    assert(f.storageLevel == StorageLevel.NONE,
      "the old owner's frame must be unpersisted by the switch")
  }

  test("a live owner's directory survives the switch; the path is session-scoped") {
    val d = SessionArtifacts.dir(spark, "spec", "live/dir")(p =>
      Files.write(Files.createDirectories(Paths.get(p)).resolve("x"), Array[Byte](1)))
    assert(d.startsWith("/tmp/graft_spec/") && d.endsWith("_live_dir"), d)
    assert(Files.exists(Paths.get(d, "x")))
    val s2 = spark.newSession()
    val d2 = SessionArtifacts.dir(s2, "spec", "live/dir")(p =>
      Files.createDirectories(Paths.get(p)))
    assert(d2 != d, "a new session must not rebuild over a live session's tree")
    assert(Files.exists(Paths.get(d, "x")),
      "a live owner may still scan its tree: the switch must not delete it")
  }

  test("a stopped owner's directory is deleted at once; a live one at JVM exit") {
    // a stopped context needs its own JVM: the suites share one live context
    val err = Files.createTempFile("graft_artifacts_probe", ".log")
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray(Array.empty[String]).filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ jvm ++
      Seq("-Xmx768m", "-cp", sys.props("java.class.path"),
        "graft.SessionArtifactsProbe")
    val proc = new ProcessBuilder(cmd: _*)
      .redirectError(err.toFile).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines()
      .collect { case l if l.contains("=") => l.split("=", 2) }
      .map(a => a(0) -> a(1)).toMap
    val code = proc.waitFor()
    def log = scala.io.Source.fromFile(err.toFile).getLines().toSeq.takeRight(30)
      .mkString("\n")
    assert(code == 0, s"probe JVM failed ($code):\n$log")
    assert(out.get("stopped_deleted").contains("true"), s"$out\n$log")
    assert(out.get("live_kept").contains("true"), s"$out\n$log")
    assert(!Files.exists(Paths.get(out("live_dir"))),
      "the exit hook must delete a live owner's tree")
    Files.deleteIfExists(err)
  }

  test("a changed stamp replaces the entry: one entry per key") {
    var builds = 0
    def open(stamp: Int): Array[Int] =
      SessionArtifacts.get(spark, "spec_stamp", "k", stamp) { builds += 1; Array(stamp) }
    val v1 = open(1)
    assert(open(1) eq v1)
    val v2 = open(2)
    assert(!(v2 eq v1) && v2.sameElements(Array(2)))
    assert(open(2) eq v2)
    assert(builds == 2)
    // the stamp-1 entry was replaced, not kept beside the stamp-2 one
    assert(!(open(1) eq v1))
    assert(builds == 3)
  }

  test("a throwing build leaves no entry and a retry builds") {
    intercept[IllegalStateException](
      SessionArtifacts.get[Int](spark, "spec_fail", "k")(
        throw new IllegalStateException("build failed")))
    assert(SessionArtifacts.get(spark, "spec_fail", "k")(42) == 42)
    assert(SessionArtifacts.get(spark, "spec_fail", "k")(7) == 42)
    intercept[IllegalStateException](
      SessionArtifacts.dir(spark, "spec", "fail")(_ =>
        throw new IllegalStateException("write failed")))
    val d = SessionArtifacts.dir(spark, "spec", "fail")(p =>
      Files.createDirectories(Paths.get(p)))
    assert(Files.isDirectory(Paths.get(d)))
  }

  test("the ledger counts builds and hits per kind") {
    val before = stats("spec_ledger")
    SessionArtifacts.get(spark, "spec_ledger", "a")(1)
    SessionArtifacts.get(spark, "spec_ledger", "a")(1)
    SessionArtifacts.get(spark, "spec_ledger", "a")(1)
    SessionArtifacts.get(spark, "spec_ledger", "b")(2)
    val after = stats("spec_ledger")
    assert(after.builds - before.builds == 2)
    assert(after.hits - before.hits == 2)
    assert(after.buildMs >= before.buildMs)
  }
}

/** Child-JVM half of SessionArtifactsSpec: owns contexts it can stop.
  * Prints `key=value` lines on stdout. */
object SessionArtifactsProbe {
  def main(args: Array[String]): Unit = {
    def session(): SparkSession = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    def mkdir(p: String): Unit = Files.createDirectories(Paths.get(p))
    val a = session()
    val stopped = SessionArtifacts.dir(a, "probe", "stopped")(mkdir)
    a.stop()
    val b = session()
    SessionArtifacts.get(b, "probe", "claim")(0)
    println(s"stopped_deleted=${!Files.exists(Paths.get(stopped))}")
    val live = SessionArtifacts.dir(b, "probe", "live")(mkdir)
    SessionArtifacts.get(b.newSession(), "probe", "claim")(0)
    println(s"live_kept=${Files.exists(Paths.get(live))}")
    println(s"live_dir=$live")
    b.stop()
  }
}
