package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

class ProfileSpec extends SparkSpec {
  private val names =
    Seq("q_dedup_minhash", "q_no_such_query", "q_a3_directory", "q_graph_bfs")

  private lazy val reports: Map[String, JsonNode] = {
    val out = Files.createTempDirectory("graft_profile")
    val sfDir = new java.io.File(sf("documents")).getParent
    Profile.run(spark, out, names, sfDir, reps = 1)
    names.map(n => n -> new ObjectMapper().readTree(
      out.resolve(s"$n.json").toFile)).toMap
  }

  private def rep(name: String): JsonNode = reports(name).get("reps").get(0)
  private def executions = rep("q_dedup_minhash").get("executions").asScala.toSeq

  test("a sealed query lists the SQL executions it ran") {
    assert(executions.size >= 2, executions.map(_.get("action")))
  }

  test("the executed plans show the pair stage, not only the sealed scan") {
    val plans = executions.map(_.get("plan").asScala.map(_.asText).mkString("\n"))
    assert(plans.exists(p => p.contains("ObjectHashAggregate") &&
      p.contains("pair_combinations_struct")), plans.mkString("\n----\n"))
  }

  private def stages = rep("q_dedup_minhash").get("stages").asScala.toSeq

  test("every stage with tasks names an execution the report lists") {
    val ids = executions.map(_.get("id").asLong()).toSet
    // tables are read with declared schemas: no inference job runs
    // outside a SQL execution
    assert(stages.nonEmpty && stages.forall(!_.get("execution").isNull),
      stages.mkString("\n"))
    stages.filter(_.get("tasks").asInt() > 0)
      .foreach(s => assert(ids(s.get("execution").asLong()), s.toString))
  }

  test("the seal's stages name the operator line that sealed") {
    val seal = executions.filter(_.get("action").asText() == "localCheckpoint")
      .last.get("id").asLong()
    val names = stages.filter(_.get("execution").asLong() == seal)
      .map(_.get("name").asText())
    assert(names.nonEmpty && names.forall(n => n.contains("Dedup.scala") &&
      !n.contains("CompletableFuture.java")), names.mkString("\n"))
  }

  test("every stage of every localCheckpoint execution names its seal") {
    // the stage table reads on its own: no AQE stage of an eager
    // materialization falls back to the CompletableFuture frame
    Seq("q_graph_bfs", "q_dedup_minhash").foreach { q =>
      val r = rep(q)
      val seals = r.get("executions").asScala
        .filter(_.get("action").asText() == "localCheckpoint")
        .map(_.get("id").asLong()).toSet
      val names = r.get("stages").asScala
        .filter(s => !s.get("execution").isNull &&
          seals(s.get("execution").asLong()))
        .map(_.get("name").asText()).toSeq
      assert(seals.nonEmpty && names.nonEmpty, s"$q: no seal stages")
      assert(names.forall(_.matches("""seal at \w+\.scala:\d+""")),
        s"$q:\n${names.mkString("\n")}")
    }
  }

  test("an unknown name writes an error entry and the sweep goes on") {
    val bad = reports("q_no_such_query")
    assert(bad.get("error").asText().contains("q_no_such_query"))
    assert(bad.get("reps").isEmpty)
    val next = reports("q_a3_directory")
    assert(next.get("error").isNull)
    assert(next.get("reps").size() == 1)
    assert(rep("q_a3_directory").get("executions").size() >= 1)
  }
}
