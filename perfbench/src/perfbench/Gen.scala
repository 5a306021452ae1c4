package perfbench

import scala.util.Random

/** Seeded input generation. Every vector, query, filter value, id choice
  * and document derives from the run seed through [[stream]], so one seed
  * always yields the same inputs and the engine sees only these values. */
object Gen {

  /** An independent generator for one purpose (`tag`) of one run seed:
    * splitmix64 over (seed, tag), so streams do not overlap. */
  def stream(seed: Long, tag: String): Random = {
    var z = seed ^ (tag.hashCode.toLong * 0x9e3779b97f4a7c15L)
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    new Random(z ^ (z >>> 31))
  }

  /** Gaussian mixture: `clusters` centres drawn N(0, 1) per coordinate;
    * each point is a centre plus N(0, 1) noise, so neighbouring clusters
    * overlap as topics in an embedding space do. (With centres three
    * times further apart the clusters become islands that the persisted
    * HNSW graph's greedy search does not cross reliably: some queries
    * then miss the recall gate.) */
  final class Mixture(seed: Long, val dim: Int, clusters: Int) {
    private val centres = {
      val r = stream(seed, "centres")
      Array.fill(clusters, dim)(r.nextGaussian())
    }
    /** One point and the index of the centre it was drawn around. */
    def draw(r: Random): (Array[Float], Int) = {
      val c = r.nextInt(clusters)
      (Array.tabulate(dim)(i => (centres(c)(i) + r.nextGaussian()).toFloat), c)
    }
  }

  /** A stored vector with the facade's string metadata. */
  final case class Row(vec: Array[Float], meta: Map[String, String])

  val Tenants = 32
  /** Metadata drawn per row: `tenant` uniform over [[Tenants]] values (a
    * tenant filter keeps ~3% of rows — the tight filter) and `tier`,
    * `std` with probability 3/4 (the loose filter). */
  def rows(m: Mixture, r: Random, n: Int): Array[Row] =
    Array.fill(n) {
      val (v, _) = m.draw(r)
      Row(v, Map("tenant" -> f"t${r.nextInt(Tenants)}%02d",
        "tier" -> (if (r.nextInt(4) == 0) "gold" else "std")))
    }

  /** Word list of the engine's synthetic text corpora. */
  val Vocab: Array[String] = ("a agg batch big column customer data fast " +
    "filter group hash join key line merge order part query row scan slow " +
    "small sort spark stream table the value vector window").split(' ')
  /** English drawn twice as often as each other language, as in the
    * engine's test corpora. */
  val Langs: Array[String] = Array("en", "en", "de", "es", "fr", "zh")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** `n` word-salad documents of 20–80 words; about one in six is a
    * near-copy of an earlier document with 1–3 words replaced, so the
    * dedup, clustering and PageRank queries have real pairs to find. */
  def documents(seed: Long, n: Int): Array[Doc] = {
    val r = stream(seed, "documents")
    val texts = new Array[Array[String]](n)
    Array.tabulate(n) { i =>
      val words =
        if (i > 10 && r.nextInt(6) == 0) {
          val w = texts(r.nextInt(i)).clone()
          (0 to r.nextInt(3)).foreach(_ => w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.length)))
          w
        } else Array.fill(20 + r.nextInt(61))(Vocab(r.nextInt(Vocab.length)))
      texts(i) = words
      Doc(i.toLong, words.mkString(" "), Langs(r.nextInt(Langs.length)), s"src${i % 20}")
    }
  }
}
