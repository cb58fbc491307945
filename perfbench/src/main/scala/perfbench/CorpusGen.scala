package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded crawl corpus for the `crawl_stream` workload: HTML pages with a
  * 64-d embedding each, planted exact copies (same visible text, different
  * markup) and near copies (one word appended, a slightly moved
  * embedding), pages built to fail the quality gate, and the stream of new
  * documents of which about a fifth are verbatim copies of indexed ones.
  * The program receives only the files.
  */
object CorpusGen {

  final case class Sizes(
      docs: Int = 2000, failFrac: Double = 0.08, exactGroups: Int = 40,
      nearCopies: Int = 20, dim: Int = 64, batches: Int = 40, batchDocs: Int = 50,
      plantedFrac: Double = 0.2)

  /** `text` is the page body (or a stream doc's whole text); `tail` is
    * markup-free text after the page's link. */
  final case class Doc(id: Long, text: String, vec: Array[Float], rare: String, tail: String = "")

  final case class Corpus(
      pagesFile: File, vectorsFile: File,
      /** Ids the gate and exact grouping must keep. */
      kept: Set[Long],
      /** keep id → copies in its exact group, for the planted groups. */
      exactGroups: Map[Long, Long],
      /** Planted near-copy pairs, smaller id first. */
      nearPairs: Set[(Long, Long)],
      docs: Map[Long, Doc],
      /** Stream batch files' contents, in landing order. */
      batches: Vector[Vector[Doc]],
      /** Streamed ids that are verbatim copies of indexed docs. */
      planted: Set[Long],
      bytes: Long)

  private val Syllables = Seq("ka", "ro", "mi", "te", "lo", "na", "vi", "su", "de", "pa",
    "ri", "mo", "ba", "ne", "to", "li", "ga", "fe", "ru", "so", "ha", "ve", "di", "co")
  private val Stop = Seq("the", "be", "to", "of", "and", "that", "have", "with", "a", "in")

  /** Letters-only rendering of an id, marked with a prefix no vocabulary
    * word has: a term that only its own document carries. */
  def rareToken(id: Long): String = {
    val b = new StringBuilder("zq")
    var x = id
    do { b.append(('a' + (x % 26)).toChar); x /= 26 } while (x > 0)
    b.toString
  }

  def page(d: Doc): String =
    "<html><head><title>Crawl Page</title><style>p{margin:0}</style>" +
      "<script>track(1 < 2);</script></head><body><p>" + d.text +
      "</p><a href=\"/p/" + d.id + "\">next</a>" + d.tail + "</body></html>"

  /** The page's visible text, as the crawl indexes it: title, body, link
    * text and tail. */
  def visible(d: Doc): String = s"Crawl Page ${d.text} next${d.tail}"

  def generate(root: File, seed: Long, sizes: Sizes = Sizes()): Corpus = {
    val r = new SplittableRandom(seed * 0x2545F4914F6CDD1DL + 101)
    root.mkdirs()
    val vocab = {
      val s = mutable.LinkedHashSet.empty[String]
      while (s.size < 3000)
        s += (0 until 2 + r.nextInt(3)).map(_ => Syllables(r.nextInt(Syllables.length))).mkString
      s.toVector
    }
    // skewed word frequencies: low vocabulary ranks are common
    def word(): String = vocab(r.nextInt(r.nextInt(vocab.length) + 1))
    def body(words: Int, rare: String): String = {
      val ws = Array.fill(words)(if (r.nextInt(6) == 0) Stop(r.nextInt(Stop.length)) else word())
      // two required stopwords, then the doc's own term
      ws(0) = "the"; ws(1) = "and"
      ws(2 + r.nextInt(words - 2)) = rare
      ws.mkString(" ")
    }
    val centers = Array.fill(16, sizes.dim)((r.nextDouble() - 0.5).toFloat)
    def vec(): Array[Float] = {
      val c = centers(r.nextInt(centers.length))
      Array.tabulate(sizes.dim)(i => (c(i) + r.nextDouble() * 2 - 1).toFloat)
    }
    def nudge(v: Array[Float]): Array[Float] = v.map(x => (x + (r.nextDouble() - 0.5) * 0.02).toFloat)

    val docs = mutable.LinkedHashMap.empty[Long, Doc]
    val pages = mutable.ArrayBuffer.empty[(Long, String)]
    val kept = mutable.Set.empty[Long]
    val passing = mutable.ArrayBuffer.empty[Long]
    (0 until sizes.docs).foreach { i =>
      val id = i.toLong
      val rare = rareToken(id)
      val fails = r.nextDouble() < sizes.failFrac
      // a gate failure: under the 20-word floor
      val text = if (fails) body(5 + r.nextInt(10), rare) else body(60 + r.nextInt(100), rare)
      docs(id) = Doc(id, text, vec(), rare)
      pages += id -> page(docs(id))
      if (!fails) { kept += id; passing += id }
    }
    var next = sizes.docs.toLong
    // near copies come from long docs: one word after the page's link adds
    // one word 3-shingle to 151 or more, a Jaccard of at least 151/152,
    // which MinHash LSH with 3 bands of 4 finds with probability above
    // 0.99998 per pair
    val long = passing.filter(id => docs(id).text.count(_ == ' ') >= 149)
    val sources = {
      val s = mutable.LinkedHashSet.empty[Long]
      while (s.size < sizes.nearCopies) s += long(r.nextInt(long.length))
      while (s.size < sizes.exactGroups + sizes.nearCopies) s += passing(r.nextInt(passing.length))
      s.toVector
    }
    val exact = sources.drop(sizes.nearCopies).map { src =>
      val copies = 1 + r.nextInt(2)
      (0 until copies).foreach { _ =>
        docs(next) = docs(src).copy(id = next, vec = nudge(docs(src).vec))
        pages += next -> page(docs(next))
        next += 1
      }
      src -> (1L + copies)
    }.toMap
    val near = sources.take(sizes.nearCopies).map { src =>
      val d = docs(src)
      docs(next) = d.copy(id = next, vec = nudge(d.vec), tail = " " + word())
      pages += next -> page(docs(next))
      kept += next
      next += 1
      (src, next - 1)
    }.toSet

    val pagesFile = new File(root, "crawl/pages.jsonl")
    val vectorsFile = new File(root, "crawl/vectors.jsonl")
    writeLines(pagesFile, pages.iterator.map { case (id, h) => s"""{"doc_id":$id,"html":${Json.str(h)}}""" })
    writeLines(vectorsFile, pages.iterator.map { case (id, _) => vecLine(docs(id)) })

    // the stream: novel docs plus verbatim copies of indexed (kept) docs
    val keptSeq = kept.toVector.sorted
    val planted = mutable.Set.empty[Long]
    next = 1000000L
    val batches = Vector.fill(sizes.batches) {
      Vector.fill(sizes.batchDocs) {
        val id = next
        next += 1
        if (r.nextDouble() < sizes.plantedFrac) {
          planted += id
          val src = docs(keptSeq(r.nextInt(keptSeq.length)))
          Doc(id, visible(src), vec(), src.rare)
        } else {
          val rare = rareToken(id)
          Doc(id, body(60 + r.nextInt(100), rare), vec(), rare)
        }
      }
    }
    batches.flatten.foreach(d => docs(d.id) = d)
    Corpus(pagesFile, vectorsFile, kept.toSet, exact, near, docs.toMap, batches, planted.toSet,
      pagesFile.length() + vectorsFile.length())
  }

  def vecLine(d: Doc): String =
    s"""{"doc_id":${d.id},"embedding":[${d.vec.mkString(",")}]}"""

  /** One stream record: id, text and embedding. */
  def streamLine(d: Doc): String =
    s"""{"doc_id":${d.id},"text":${Json.str(d.text)},"embedding":[${d.vec.mkString(",")}]}"""

  def writeLines(f: File, lines: Iterator[String]): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }
}
