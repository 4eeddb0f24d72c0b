package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

/** Every path the engine and its specs read from the reference project's
  * own data that this repo does not commit: the Bilibili danmaku corpora
  * and the golden outputs generated from them. The corpora are reached
  * through ASCII symlinks (refdata/fanren, refdata/spy): the real
  * directory name 凡人修仙传 is non-ASCII, and a JVM launched under a
  * POSIX locale mangles non-ASCII filesystem paths
  * (sun.jnu.encoding=ASCII; the -D override is ignored, it's
  * locale-derived). build.sbt also sets LC_ALL for forked JVMs, but the
  * symlinks keep the engine independent of who launches it.
  *
  * Where the reference checkout is not mounted the symlinks dangle.
  * [[present]] is the one test for that: the whole-surface specs leave
  * out exactly the queries and oracles whose declared input it reports
  * absent, and [[SparkEntry.queries]] makes such a query fail with one
  * message naming the path instead of a scan error.
  */
object RefData {

  /** The repo's refdata directory, made absolute against the working
    * directory (the repo root, where sbt and its forked JVMs start).
    */
  private val refDir = Paths.get("refdata").toAbsolutePath

  /** `rel` under the repo's refdata directory: the committed fixtures
    * (refdata/anime, refdata/segments) and the corpus links alike.
    */
  def path(rel: String): String = refDir.resolve(rel).toString

  /** Root of the reference project's checkout: $GRAFT_REFERENCE_DIR, else
    * the directory the refdata/fanren link points into (<root>/data/<show>).
    * Only the ASCII ancestors of the link target are kept.
    */
  private val referenceRoot: String = sys.env.getOrElse("GRAFT_REFERENCE_DIR",
    scala.util.Try(refDir.resolve(Files.readSymbolicLink(refDir.resolve("fanren")))
      .getParent.getParent.toString).getOrElse(refDir.toString))

  val fanRenGlob = s"$refDir/fanren/danmaku_*.csv"
  val spyGlob = s"$refDir/spy/danmaku_*.csv"

  /** One SPY episode: the source the committed q83 segments were encoded
    * from (tools.SegmentFixture), and what q83's oracle reads.
    */
  val spyEpisodeCsv = s"$refDir/spy/danmaku_BV14G4y157E5.csv"

  /** The reference's relation-graph golden tables (FidelitySpec). */
  val goldenDir = s"$referenceRoot/relation_graph/dataset_processed"

  /** The reference's per-episode energy golden (FidelitySpec). */
  val energyGolden = s"$referenceRoot/hot/all_episodes_energy.json"

  /** Reference paths each registered query reads when it runs. */
  val queryReads: Map[String, Seq[String]] =
    Seq("q35_label_propagation", "q75_community_modularity",
      "q89_louvain_communities", "q90_fanren_nodes", "q91_fanren_edges",
      "q95_fanren_graph").map(_ -> Seq(fanRenGlob)).toMap ++
    Seq("q92_spy_nodes", "q93_spy_edges", "q94_episode_energy",
      "q96_word_freq", "q97_spy_dup_texts",
      "q225_latin_word_freq").map(_ -> Seq(spyGlob))

  /** Reference paths each oracle's SQL reads (RefDataSpec pins this to the
    * SQL text). q83's query decodes the committed segments; only its
    * oracle reads the episode CSV. q96's oracle is a committed literal.
    */
  val oracleReads: Map[String, Seq[String]] =
    Seq("q90_fanren_nodes", "q91_fanren_edges", "q95_fanren_graph")
      .map(_ -> Seq(fanRenGlob)).toMap ++
    Seq("q92_spy_nodes", "q93_spy_edges", "q94_episode_energy",
      "q97_spy_dup_texts", "q225_latin_word_freq").map(_ -> Seq(spyGlob)) +
    ("q83_segment_decode" -> Seq(spyEpisodeCsv))

  /** True when `path` (a file, or a glob in its last component) matches at
    * least one regular file.
    */
  def present(path: String): Boolean = {
    val p = Paths.get(path)
    val dir = p.getParent
    Files.isDirectory(dir) &&
      Using.resource(Files.newDirectoryStream(dir, p.getFileName.toString))(
        _.iterator.asScala.exists(Files.isRegularFile(_)))
  }

  def notMounted(path: String): String =
    s"reference input $path is absent: the reference corpus is not mounted"

  /** Throws a FileNotFoundException saying `path` is not mounted, unless
    * it is [[present]].
    */
  def require(path: String): Unit =
    if (!present(path)) throw new java.io.FileNotFoundException(notMounted(path))

  /** The entries of `reads` with an absent path, mapped to those paths. */
  def absent(reads: Map[String, Seq[String]]): Map[String, Seq[String]] =
    reads.map { case (name, paths) => name -> paths.filterNot(present) }
      .filter(_._2.nonEmpty)
}
