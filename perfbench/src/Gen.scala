package perfbench

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.ImageIO
import scala.util.Random

/** Seeded input generator. It calls no program function, so no change to
  * the program can change what a seed produces. Every generated row carries
  * a `kind` that stays in the benchmark (the program never sees it): the
  * planted property the output check and the planted/removed shares use.
  */
object Gen {

  // planted kinds
  val Base = "base"
  val ExactCopy = "exact_copy"
  val NearCopy = "near_copy"
  val Short = "short"
  val Repetitive = "repetitive"
  val ImageCopy = "image_copy"
  val PerturbedCopy = "perturbed_copy"
  val TinyImage = "tiny_image"
  val EmbeddingNear = "embedding_near"
  val EmbeddingOutlier = "embedding_outlier"

  /** `origin` is the id of the row a planted copy was made from (-1 if none). */
  final case class Doc(id: Long, text: String, lang: String, url: String,
      kind: String, origin: Long)

  final case class ImageRow(id: Long, url: String, caption: String, png: Array[Byte],
      embedding: Array[Float], kind: String, origin: Long)

  private val Stopwords = Vector("the", "of", "and", "to", "in", "a", "is", "that",
    "for", "it", "as", "was", "with", "be", "by", "on", "not", "he", "this", "are",
    "or", "his", "from", "at", "which", "but", "have", "an", "had", "they")
  private val Langs = Vector("en", "en", "en", "de", "fr", "es")
  private val Punct = Vector(".", ".", ".", "?", "!", ";")

  /** Vocabulary: stopwords at the head, then random letter strings; words
    * are drawn with Zipf(1.05) weights over the ranks.
    */
  final class Vocab(seed: Long, size: Int = 20000) {
    private val r = new Random(seed ^ 0x5eedL)
    val words: Vector[String] = Stopwords ++ Iterator.continually {
      val n = 3 + r.nextInt(8)
      (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }.distinct.filterNot(Stopwords.contains).take(size - Stopwords.size).toVector
    private val cdf: Array[Double] = {
      val w = words.indices.map(i => 1.0 / math.pow(i + 1, 1.05))
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
    }
    def draw(r: Random): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      words(math.min(if (i >= 0) i else -i - 1, words.size - 1))
    }
  }

  private def sentence(v: Vocab, r: Random): String = {
    val n = 8 + r.nextInt(14)
    val ws = (0 until n).map { i =>
      val w = v.draw(r)
      if (i == 0) w.capitalize else if (r.nextInt(9) == 0) w + "," else w
    }
    ws.mkString(" ") + Punct(r.nextInt(Punct.size))
  }

  private def pii(r: Random): String =
    if (r.nextInt(8) != 0) ""
    else f" Contact user${r.nextInt(999)}%03d@example.com or 555-${r.nextInt(900) + 100}%03d-${r.nextInt(9000) + 1000}%04d."

  /** A web-page-like document: 2–5 paragraphs (one per line) of 2–5 sentences, 300+ chars. */
  private def document(v: Vocab, r: Random): String = {
    val paras = (0 until 2 + r.nextInt(4)).map { _ =>
      (0 until 2 + r.nextInt(4)).map(_ => sentence(v, r)).mkString(" ")
    }
    val t = paras.mkString("\n") + pii(r)
    if (t.length >= 300) t else t + "\n" + sentence(v, r) + " " + sentence(v, r)
  }

  /** Replace 1–3 words (not the first) with other vocabulary words. */
  private def nearCopy(t: String, v: Vocab, r: Random): String = {
    val ws = t.split(" ")
    (0 until 1 + r.nextInt(3)).foreach { _ =>
      val i = 1 + r.nextInt(ws.length - 1)
      var w = v.draw(r)
      while (w == ws(i)) w = v.draw(r)
      ws(i) = w
    }
    ws.mkString(" ")
  }

  private def shortDoc(v: Vocab, r: Random): String = {
    val s = sentence(v, r)
    s.take(40 + r.nextInt(100))
  }

  private def repetitive(v: Vocab, r: Random): String = {
    val line = sentence(v, r)
    val other = sentence(v, r)
    (Seq.fill(6 + r.nextInt(6))(line) :+ other).mkString("\n")
  }

  /** Ids are a seeded permutation of 0 until n, then swapped within each
    * (origin, copy) pair so the origin keeps the smaller id: first-seen wins.
    */
  private def assignIds(n: Int, r: Random, origins: Array[Int]): Array[Long] = {
    val ids = r.shuffle((0 until n).map(_.toLong)).toArray
    var i = 0
    while (i < n) {
      val o = origins(i)
      if (o >= 0 && ids(i) < ids(o)) { val t = ids(i); ids(i) = ids(o); ids(o) = t }
      i += 1
    }
    ids
  }

  /** Web-text corpus: `n` docs with planted exact copies (5%), 1–3-word near
    * copies (5%), short docs (4%) and repetitive docs (4%).
    */
  def texts(seed: Long, n: Int): Vector[Doc] = {
    val v = new Vocab(seed)
    val r = new Random(seed)
    val nCopy = n / 20; val nNear = n / 20; val nShort = n / 25; val nRep = n / 25
    val nBase = n - nCopy - nNear - nShort - nRep
    val texts = new Array[String](n)
    val kinds = new Array[String](n)
    val origins = Array.fill(n)(-1)
    (0 until nBase).foreach { i => texts(i) = document(v, r); kinds(i) = Base }
    var i = nBase
    (0 until nCopy).foreach { _ =>
      val o = r.nextInt(nBase); texts(i) = texts(o); kinds(i) = ExactCopy; origins(i) = o; i += 1
    }
    (0 until nNear).foreach { _ =>
      val o = r.nextInt(nBase)
      texts(i) = nearCopy(texts(o), v, r); kinds(i) = NearCopy; origins(i) = o; i += 1
    }
    (0 until nShort).foreach { _ => texts(i) = shortDoc(v, r); kinds(i) = Short; i += 1 }
    (0 until nRep).foreach { _ => texts(i) = repetitive(v, r); kinds(i) = Repetitive; i += 1 }
    val ids = assignIds(n, r, origins)
    val rows = (0 until n).map { j =>
      Doc(ids(j), texts(j), Langs(r.nextInt(Langs.size)), s"https://site${r.nextInt(500)}.example/p/${ids(j)}",
        kinds(j), if (origins(j) >= 0) ids(origins(j)) else -1L)
    }
    r.shuffle(rows).toVector
  }

  // ---- images ----

  /** A smooth random RGB field (bilinear over a 5×5 grid of random colours)
    * plus per-pixel noise of ±`noise`; distinct fields give distinct phashes.
    */
  private def field(w: Int, h: Int, grid: Array[Array[Int]], noise: Int, nr: Random): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = grid.length - 1
    var y = 0
    while (y < h) {
      val fy = y.toDouble * g / math.max(1, h - 1); val y0 = math.min(fy.toInt, g - 1); val ty = fy - y0
      var x = 0
      while (x < w) {
        val fx = x.toDouble * g / math.max(1, w - 1); val x0 = math.min(fx.toInt, g - 1); val tx = fx - x0
        var rgb = 0
        var c = 0
        while (c < 3) {
          def at(a: Int, b: Int) = (grid(a)(b) >> (8 * c)) & 0xff
          val v = (1 - ty) * ((1 - tx) * at(y0, x0) + tx * at(y0, x0 + 1)) +
            ty * ((1 - tx) * at(y0 + 1, x0) + tx * at(y0 + 1, x0 + 1))
          val px = math.max(0, math.min(255, v.toInt + (if (noise > 0) nr.nextInt(2 * noise + 1) - noise else 0)))
          rgb |= px << (8 * c)
          c += 1
        }
        img.setRGB(x, y, rgb)
        x += 1
      }
      y += 1
    }
    img
  }

  private def png(img: BufferedImage): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  private def grid(r: Random): Array[Array[Int]] = Array.fill(5, 5)(r.nextInt(1 << 24))

  private def gaussian(r: Random, d: Int, sd: Double): Array[Double] =
    Array.fill(d)(r.nextGaussian() * sd)

  /** LAION-shaped rows: a PNG of 48–128 px a side and a 64-d embedding drawn
    * around one of 8 cluster centres (rows 0..7 hold one of each, so the
    * first-k centroid seeding sees every cluster). Planted: exact image
    * copies (4%), perturbed copies with ±2 pixel noise (3%), tiny images
    * (3%), embedding near-duplicates of a distinct image (4%) and embedding
    * outliers (2%).
    */
  def images(seed: Long, n: Int): Vector[ImageRow] = {
    val r = new Random(seed)
    val d = 64
    val centres = Array.fill(8) {
      val c = gaussian(r, d, 1.0); val norm = math.sqrt(c.map(x => x * x).sum); c.map(_ / norm)
    }
    def around(c: Array[Double], sd: Double): Array[Float] = {
      val e = gaussian(r, d, sd); Array.tabulate(d)(i => (c(i) + e(i)).toFloat)
    }
    val nCopy = n * 4 / 100; val nPert = n * 3 / 100; val nTiny = n * 3 / 100
    val nEmb = n * 4 / 100; val nOut = n * 2 / 100
    val nBase = n - nCopy - nPert - nTiny - nEmb - nOut
    final case class Proto(grid: Array[Array[Int]], w: Int, h: Int, cluster: Int, noiseSeed: Long)
    val protos = Array.tabulate(nBase)(i => Proto(grid(r), 48 + r.nextInt(81), 48 + r.nextInt(81),
      if (i < 8) i else r.nextInt(8), r.nextLong()))
    val pngs = new Array[Array[Byte]](n)
    val embs = new Array[Array[Float]](n)
    val kinds = new Array[String](n)
    val origins = Array.fill(n)(-1)
    def render(p: Proto, extra: Int): Array[Byte] = {
      val base = field(p.w, p.h, p.grid, 6, new Random(p.noiseSeed))
      if (extra == 0) png(base)
      else {
        val nr = new Random(r.nextLong())
        (0 until p.h).foreach(y => (0 until p.w).foreach { x =>
          val v = base.getRGB(x, y)
          val out = (0 until 3).map { c =>
            val px = ((v >> (8 * c)) & 0xff) + nr.nextInt(2 * extra + 1) - extra
            math.max(0, math.min(255, px)) << (8 * c)
          }.sum
          base.setRGB(x, y, out)
        })
        png(base)
      }
    }
    (0 until nBase).foreach { i =>
      pngs(i) = render(protos(i), 0); embs(i) = around(centres(protos(i).cluster), 0.06); kinds(i) = Base
    }
    var i = nBase
    def jitter(e: Array[Float], sd: Double): Array[Float] = e.map(x => (x + r.nextGaussian() * sd).toFloat)
    (0 until nCopy).foreach { _ =>
      val o = 8 + r.nextInt(nBase - 8)
      pngs(i) = pngs(o); embs(i) = jitter(embs(o), 0.002); kinds(i) = ImageCopy; origins(i) = o; i += 1
    }
    (0 until nPert).foreach { _ =>
      val o = 8 + r.nextInt(nBase - 8)
      pngs(i) = render(protos(o), 2); embs(i) = jitter(embs(o), 0.002); kinds(i) = PerturbedCopy
      origins(i) = o; i += 1
    }
    (0 until nTiny).foreach { _ =>
      val p = Proto(grid(r), 8 + r.nextInt(16), 8 + r.nextInt(16), r.nextInt(8), r.nextLong())
      pngs(i) = render(p, 0); embs(i) = around(centres(p.cluster), 0.06); kinds(i) = TinyImage; i += 1
    }
    (0 until nEmb).foreach { _ =>
      val o = 8 + r.nextInt(nBase - 8)
      val p = Proto(grid(r), 48 + r.nextInt(81), 48 + r.nextInt(81), protos(o).cluster, r.nextLong())
      pngs(i) = render(p, 0); embs(i) = jitter(embs(o), 0.002); kinds(i) = EmbeddingNear
      origins(i) = o; i += 1
    }
    (0 until nOut).foreach { _ =>
      val p = Proto(grid(r), 48 + r.nextInt(81), 48 + r.nextInt(81), r.nextInt(8), r.nextLong())
      pngs(i) = render(p, 0); embs(i) = around(centres(p.cluster), 0.4); kinds(i) = EmbeddingOutlier; i += 1
    }
    // rows 0..7 keep ids 0..7 (one per cluster, first-k seeding); the rest
    // are permuted with each copy's id above its origin's
    val rest = assignIds(n - 8, r, origins.drop(8).map(o => if (o >= 8) o - 8 else -1)).map(_ + 8)
    val ids = Array.tabulate(n)(j => if (j < 8) j.toLong else rest(j - 8))
    val rows = (0 until n).map { j =>
      ImageRow(ids(j), s"https://img${r.nextInt(300)}.example/${ids(j)}.png",
        s"photo ${ids(j)} of ${Stopwords(r.nextInt(Stopwords.size))}", pngs(j), embs(j), kinds(j),
        if (origins(j) >= 0) ids(origins(j)) else -1L)
    }
    r.shuffle(rows).toVector
  }
}
