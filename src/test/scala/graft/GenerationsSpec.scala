package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.functions.min
import org.scalatest.funsuite.AnyFunSuite

import graft.model.CheckObject
import graft.pipeline.{Dedup, IncrementalAnn, IncrementalDedup}
import graft.state.{ProfileStore, StateStore}
import graft.tables.StoreLease

/** The crash table of the generation protocol every persisted store
  * shares (`graft.tables.Generations`): for each store and each on-disk
  * state a writer killed mid-protocol can leave, built here by hand, a
  * fresh reader serves the newest COMPLETE generation and the next
  * write succeeds. */
class GenerationsSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def freshPath(): String =
    java.nio.file.Files.createTempDirectory("graft-gens").toString +
      "/store"

  /** One store, driven through its own public API. Generation `g` is
    * tagged in its data, so `load` can say which generation it served.
    * `cells` = the store keeps partition cells (the `.bakparts` cases). */
  private case class Subject(name: String, cells: Boolean,
      save: (String, Int) => Unit, load: String => Option[Int],
      rows: String => Long)

  private val state = Subject("StateStore", cells = false,
    (p, g) => new StateStore(spark, p).save(
      Seq(CheckObject.fresh(g.toLong, "db", "U", "main", s"t$g", "U", 1L))),
    p => new StateStore(spark, p).load().headOption.map(_.id.toInt),
    p => new StateStore(spark, p).load().size.toLong)

  private val profile = Subject("ProfileStore", cells = false,
    (p, g) => { new ProfileStore(spark, p).record(
      Seq(("t", "n_rows", g.toDouble)).toDF("table_name", "metric", "value"))
      () },
    p => new ProfileStore(spark, p).current().collect().headOption
      .map(_.getDouble(2).toInt),
    p => new ProfileStore(spark, p).history().count())

  private def sigs(g: Int) = Dedup.minhashSig(Seq(
    (g * 10L + 1, "alpha beta alpha"), (g * 10L + 2, "alpha beta alpha"),
    (g * 10L + 3, "gamma delta"), (g * 10L + 4, "delta gamma beta"),
    (g * 10L + 5, "beta beta gamma alpha")).toDF("doc_id", "text"))

  private val sig = Subject("SigStore", cells = true,
    (p, g) => new IncrementalDedup.SigStore(spark, p).save(
      IncrementalDedup.initialStore(sigs(g)), fanOut = 4),
    p => new IncrementalDedup.SigStore(spark, p).load()
      .map(_.agg(min("doc_id")).head().getLong(0).toInt / 10),
    p => new IncrementalDedup.SigStore(spark, p).load().fold(0L)(_.count()))

  private def vecs(g: Int) = (1 to 30).map { i =>
    (g * 100L + i, (0 until 8).map(d => ((i % 3) * 40 + d - 60).toLong))
  }.toDF("vec_id", "qv")

  private val ann = Subject("AnnIndexStore", cells = true,
    (p, g) => {
      val cents = IncrementalAnn.trainCentroids(vecs(g), k = 3)
      new IncrementalAnn.AnnIndexStore(spark, p)
        .save(cents, IncrementalAnn.assign(vecs(g), cents))
    },
    p => new IncrementalAnn.AnnIndexStore(spark, p).load()
      .map(_.agg(min("vec_id")).head().getLong(0).toInt / 100),
    p => new IncrementalAnn.AnnIndexStore(spark, p).load()
      .fold(0L)(_.count()))

  /** Generation `g` written by the store's own writer somewhere else,
    * then moved to `dest` — a finished tmp as the crashed writer left it. */
  private def placeGeneration(s: Subject, g: Int, dest: String): Unit = {
    val elsewhere = freshPath()
    s.save(elsewhere, g)
    assert(fs.rename(new Path(elsewhere), new Path(dest)))
  }

  private def mv(from: String, to: String): Unit =
    assert(fs.rename(new Path(from), new Path(to)))

  private def rm(p: String): Unit = assert(fs.delete(new Path(p), true))

  /** The first partition cell (`c0=a/c1=b`) of the generation at `root`. */
  private def firstCell(root: String): String = {
    def dirs(p: Path) = fs.listStatus(p).filter(s => s.isDirectory &&
      !s.getPath.getName.startsWith("_") &&
      !s.getPath.getName.startsWith(".")).map(_.getPath).sortBy(_.getName)
    val d0 = dirs(new Path(root)).head
    s"${d0.getName}/${dirs(d0).head.getName}"
  }

  /** A crash state, how to build it from generation 1 saved at a path,
    * and the generation a reader must then serve. */
  private case class Crash(name: String, build: String => Unit,
      serves: Int)

  private def crashTable(s: Subject): Seq[Crash] = Seq(
    Crash("a complete tmp beside <path>",
      p => placeGeneration(s, 2, p + ".tmp"), 2),
    Crash("a complete tmp with no <path> and an .old", { p =>
      mv(p, p + ".old"); placeGeneration(s, 2, p + ".tmp") }, 2),
    Crash("an incomplete tmp (no _SUCCESS)", { p =>
      placeGeneration(s, 2, p + ".tmp"); rm(p + ".tmp/_SUCCESS") }, 1),
    Crash("<path> missing with .old present", p => mv(p, p + ".old"), 1)) ++
    (if (!s.cells) Nil else Seq(
      Crash("an incomplete tmp (no _graft_meta.json)", { p =>
        placeGeneration(s, 2, p + ".tmp")
        rm(p + ".tmp/_graft_meta.json") }, 1),
      Crash("a stray .bakparts whose cell was already rewritten", { p =>
        val cell = firstCell(p)
        assert(fs.mkdirs(new Path(p + ".bakparts/" + cell).getParent))
        assert(FileUtil.copy(fs, new Path(p, cell), fs,
          new Path(p + ".bakparts/" + cell), false,
          spark.sparkContext.hadoopConfiguration)) }, 1),
      Crash("a .bakparts holding a cell the overwrite had removed", { p =>
        val cell = firstCell(p)
        assert(fs.mkdirs(new Path(p + ".bakparts/" + cell).getParent))
        mv(s"$p/$cell", p + ".bakparts/" + cell) }, 1)))

  for (s <- Seq(state, profile, sig, ann); c <- crashTable(s)) {
    test(s"${s.name}: ${c.name} — load serves generation ${c.serves} " +
        "and the next save succeeds") {
      val p = freshPath()
      s.save(p, 1)
      val rows1 = s.rows(p)
      c.build(p)
      assert(s.load(p) === Some(c.serves))
      if (c.serves == 1)
        assert(s.rows(p) === rows1, "generation 1 is served whole")
      s.save(p, 3)
      assert(s.load(p) === Some(3))
      Seq(".tmp", ".old", ".bakparts").foreach(suffix =>
        assert(!fs.exists(new Path(p + suffix)), s"$suffix left behind"))
    }
  }

  test("ProfileStore.record refuses to swap while another writer's " +
      "lease is live, and the history stays as it was") {
    val p = freshPath()
    profile.save(p, 1)
    val store = new ProfileStore(spark, p)
    val before = store.history().collect().toSeq
    val foreign = new StoreLease(spark, p, "a concurrent drift run")
    foreign.acquire()
    try {
      val e = intercept[IllegalStateException](profile.save(p, 2))
      assert(e.getMessage.contains("leased to writer"), e.getMessage)
      assert(store.history().collect().toSeq === before)
    } finally foreign.release()
    profile.save(p, 2) // lease released: the next run records
    assert(profile.load(p) === Some(2))
  }
}
