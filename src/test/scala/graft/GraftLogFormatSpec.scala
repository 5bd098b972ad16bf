package graft

import org.apache.spark.sql.functions.expr
import graft.sources.GraftTable
import graft.sources.MergeClauses.MatchedUpdate
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Pins the commit-log FORMAT of the six carried metadata rows
  * (`schema`, `constraints`, `bloomidx`, `colmap`, `partmeta`,
  * `protocol`) plus the per-commit `info` row: one table is driven
  * past two checkpoints (v8, v16) while every row kind is set,
  * cleared and carried, and each commit file and checkpoint must
  * hold exactly these lines. The rows carry no UUIDs and no
  * timestamps, so the expectation is literal. It also checks that
  * every row accessor resolves the same value at every version
  * through a checkpoint as through the bare commit walk.
  */
class GraftLogFormatSpec extends SparkSpec {

  import spark.implicits._

  private val MetaTags = Set("info", "schema", "constraints", "bloomidx",
    "colmap", "partmeta", "protocol")

  private def metaLines(f: Path): Seq[String] =
    Files.readAllLines(f).asScala.toSeq
      .filter(l => MetaTags(l.takeWhile(_ != '\t')))

  private def logFile(root: String, name: String, v: Long): Path =
    Paths.get(s"$root/_graft_log/$name${"%012d".format(v)}.txt")

  /** Every row accessor at `v`, as one comparable value. An identity
    * column mapping compares as the empty one: a checkpoint leaves
    * out an identity row such as `{"m":{"name":"name"},"d":[]}`
    * (what renaming a column back writes), so past the checkpoint
    * the same identity mapping resolves with an empty map.
    */
  private def rowsAt(t: GraftTable, v: Long) = {
    val cm = t.colmapAt(v)
    (t.schemaAt(v), t.constraintsAt(v), t.bloomIndexAt(v),
      if (cm.isIdentity) GraftTable.ColMap.empty else cm,
      t.partMetaAt(v), t.protocolAt(v))
  }

  private def struct(fields: (String, String)*): String =
    fields.map { case (n, tp) =>
      s"""{"name":"$n","type":"$tp","nullable":true,"metadata":{}}"""
    }.mkString("schema\t{\"type\":\"struct\",\"fields\":[", ",", "]}")

  test("metadata rows of every commit and checkpoint are pinned; checkpoint and commit walk resolve alike") {
    val root = Files.createTempDirectory("graft_logfmt").toString + "/t"
    val t = GraftTable.forPath(spark, root)
    val atCommit = scala.collection.mutable.LinkedHashMap.empty[Long, Any]
    def step(v: Long): Unit = {
      assert(t.latestVersion == v)
      atCommit(v) = rowsAt(t, v)
    }
    t.appendPartitioned(Seq((1L, "a", "IN"), (2L, "b", "US"))
      .toDF("id", "name", "country"), "country")                  // v1
    step(1)
    t.addConstraint("pos_id", "id > 0"); step(2)
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))   // v3
    step(3)
    t.dropFeature(GraftTable.Features.StringPartitionValues); step(4)
    t.append(Seq((3L, "c", 3.0)).toDF("id", "name", "price"),
      mergeSchema = true)                                          // v5
    step(5)
    t.setBloomIndex(Seq("id")); step(6)
    t.renameColumn("name", "label"); step(7)
    t.dropConstraint("pos_id"); step(8)                           // ckpt
    t.mergeInto(Seq((1L, 9.0)).toDF("id", "price"), Seq("id"),
      matched = Seq(MatchedUpdate(None, Map("price" -> expr("s.price")))))
    step(9)
    t.renameColumn("label", "name"); step(10)
    t.dropFeature(GraftTable.Features.ColumnMapping); step(11)
    t.dropBloomIndex(); step(12)
    (13L to 16L).foreach { v =>                                   // ckpt
      t.append(Seq((v, s"r$v", v.toDouble)).toDF("id", "name", "price"))
      step(v)
    }

    val idName = struct("id" -> "long", "name" -> "string")
    val idNamePrice = struct("id" -> "long", "name" -> "string",
      "price" -> "double")
    val idLabelPrice = struct("id" -> "long", "label" -> "string",
      "price" -> "double")
    val cons = "constraints\t[{\"n\":\"pos_id\",\"e\":\"id > 0\"}]"
    val bloom = "bloomidx\t[{\"c\":\"id\",\"b\":65536}]"
    val renamed = "colmap\t{\"m\":{\"label\":\"name\"},\"d\":[]}"
    val country = "partmeta\t{\"keys\":[{\"col\":\"country\",\"type\":\"string\"}]}"
    val spv = "protocol\t[\"stringPartitionValues\"]"
    val cmProto = "protocol\t[\"columnMapping\"]"
    val cmInfoProto = "protocol\t[\"columnMapping\",\"w:commitInfo\"]"
    val infoProto = "protocol\t[\"w:commitInfo\"]"
    val commits: Seq[Seq[String]] = Seq(
      /* v1  */ Seq(idName, country, spv),
      /* v2  */ Seq(idName, cons, country, spv),
      /* v3  */ Seq(idName, cons, "colmap\t{\"m\":{},\"d\":[]}",
                    "partmeta\t{}", spv),
      /* v4  */ Seq(idName, cons, "protocol\t[]"),
      /* v5  */ Seq(idNamePrice, cons),
      /* v6  */ Seq(idNamePrice, cons, bloom),
      /* v7  */ Seq(idLabelPrice, cons, bloom, renamed, cmProto),
      /* v8  */ Seq(idLabelPrice, "constraints\t[]", bloom, renamed, cmProto),
      /* v9  */ Seq("info\tmergeSourceStrategy=broadcast sourceBytesEst=16 " +
                    "rowsUpdated=1 rowsDeleted=0 rowsInserted=0",
                    idLabelPrice, bloom, renamed, cmInfoProto),
      /* v10 */ Seq(idNamePrice, bloom, "colmap\t{\"m\":{\"name\":\"name\"},\"d\":[]}",
                    cmInfoProto),
      /* v11 */ Seq(idNamePrice, bloom, infoProto),
      /* v12 */ Seq(idNamePrice, "bloomidx\t[]", infoProto)) ++
      Seq.fill(4)(Seq(idNamePrice, infoProto))                   // v13-16
    commits.zipWithIndex.foreach { case (want, i) =>
      val v = i + 1L
      assert(metaLines(logFile(root, "v", v)) == want, s"commit v$v")
    }
    // a checkpoint leaves out empty rows — also rows a commit cleared
    // explicitly (constraints at v8, colmap at v10, bloomidx at v12)
    assert(metaLines(logFile(root, "ckpt-v", 8)) ==
      Seq(idLabelPrice, bloom, renamed, cmProto), "checkpoint v8")
    assert(metaLines(logFile(root, "ckpt-v", 16)) ==
      Seq(idNamePrice, infoProto), "checkpoint v16")

    // resolution through the checkpoints (a fresh instance: no parse
    // cache) and through the bare commit walk (a copy of the log
    // without its checkpoints) both give what each commit saw
    val bare = Files.createTempDirectory("graft_logfmt_bare").toString
    Files.createDirectories(Paths.get(s"$bare/_graft_log"))
    (1L to 16L).foreach { v =>
      val name = logFile(root, "v", v).getFileName.toString
      Files.copy(logFile(root, "v", v), Paths.get(s"$bare/_graft_log/$name"))
    }
    val viaCkpt = GraftTable.forPath(spark, root)
    val viaWalk = GraftTable.forPath(spark, bare)
    atCommit.foreach { case (v, want) =>
      assert(rowsAt(viaCkpt, v) == want, s"checkpoint resolution at v$v")
      assert(rowsAt(viaWalk, v) == want, s"commit-walk resolution at v$v")
    }
  }
}
