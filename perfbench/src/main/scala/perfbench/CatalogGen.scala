package perfbench

import java.nio.charset.StandardCharsets
import java.util.{Base64, SplittableRandom}

/** One FBC meta record as the stream carries it. `key` is the partition
  * key the catalog derives (`olm.package` keys on its own name, an empty
  * or missing package maps to `__global`); `blob` is the exact line. */
final case class Rec(schema: String, key: String, name: String, blob: String)

/** Ground truth for one published catalog version: every route answer is
  * computed here from the generated records, independently of Spark. */
final class Truth(val recs: Vector[Rec], val icons: Map[String, (String, Array[Byte])]) {
  private val bySchema: Map[String, Map[String, Vector[Rec]]] =
    recs.groupBy(_.key).map { case (k, rs) => k -> rs.groupBy(_.schema) }

  val packages: Vector[String] = bySchema.keys.toVector.sorted
  def schemas(pkg: String): Vector[String] =
    bySchema.get(pkg).map(_.keys.toVector.sorted).getOrElse(Vector.empty)
  def objects(pkg: String, schema: String): Vector[String] =
    bySchema.get(pkg).flatMap(_.get(schema)).getOrElse(Vector.empty)
      .map(_.name.stripSuffix(".json")).sorted
  def blob(pkg: String, schema: String, name: String): Vector[String] =
    bySchema.get(pkg).flatMap(_.get(schema)).getOrElse(Vector.empty)
      .filter(_.name == name).map(_.blob)
  def icon(pkg: String): Option[(String, Array[Byte])] = icons.get(pkg)
  def names(pkg: String, schema: String): Vector[String] =
    bySchema.get(pkg).flatMap(_.get(schema)).getOrElse(Vector.empty).map(_.name)

  def withDelta(delta: Seq[Rec]): Truth = new Truth(recs ++ delta, icons)
  def bytes: Long = recs.iterator.map(_.blob.getBytes(StandardCharsets.UTF_8).length + 1L).sum
}

/** Sizes of the generated catalog. The shape follows a public operator
  * catalog: skewed bundles per package, large low-compressibility bundle
  * blobs, icons on most packages, a few `__global` records and a few
  * names carrying a `.json` suffix. */
final case class CatalogShape(packages: Int, maxBundles: Int, blobMinKb: Int,
    blobMaxKb: Int, iconShare: Double, globals: Int, jsonShare: Double,
    deltaShare: Double)

/** Seeded FBC catalog, delta and request generator. */
object CatalogGen {
  val Bundle = "olm.bundle"
  val Channel = "olm.channel"
  val Package = "olm.package"
  val Global = "__global"

  private def q(s: String): String = "\"" + s + "\""

  private def noise(r: SplittableRandom, bytes: Int): String = {
    val b = new Array[Byte](bytes)
    r.nextBytes(b)
    Base64.getEncoder.encodeToString(b)
  }

  private def bundle(r: SplittableRandom, shape: CatalogShape, pkg: String,
      name: String): Rec = {
    val kb = shape.blobMinKb + r.nextInt(shape.blobMaxKb - shape.blobMinKb + 1)
    // base64 of random bytes: 3 raw bytes -> 4 chars
    val data = noise(r, kb * 768)
    val blob = s"""{"schema":${q(Bundle)},"package":${q(pkg)},"name":${q(name)},""" +
      s""""image":"registry.example/$pkg@sha256:${noise(r, 24)}",""" +
      s""""properties":[{"type":"olm.bundle.object","value":{"data":${q(data)}}}]}"""
    Rec(Bundle, pkg, name, blob)
  }

  private def bundleName(pkg: String, v: Int, json: Boolean): String =
    s"$pkg.v$v.0.${v % 7}" + (if (json) ".json" else "")

  /** The base catalog for `seed`, in stream order. Package `i` is the
    * `i`-th most popular (see [[RequestGen]]); its bundle count and whether
    * it has an icon depend on `i` alone, so every seed gives the same
    * amount of work and seeds vary names, contents and request draws. */
  def catalog(seed: Long, shape: CatalogShape): Truth = {
    val r = new SplittableRandom(seed)
    val p = shape.packages
    // cubic quantiles (most packages small, a long tail up to maxBundles)
    // spread over popularity ranks by a fixed stride coprime to p
    val stride = Iterator.from(p / 2 + 1).find(BigInt(_).gcd(p) == 1).get
    val counts = (0 until p).map { i =>
      val u = ((i.toLong * stride % p) + 0.5) / p
      1 + ((shape.maxBundles - 1) * u * u * u).toInt
    }
    val icons10 = (shape.iconShare * 10).round.toInt
    val withIcon = (0 until p).map(i => (i * 3 % 10) < icons10)
    val recs = Vector.newBuilder[Rec]
    val icons = Map.newBuilder[String, (String, Array[Byte])]
    for (i <- 0 until p) {
      val pkg = f"op-$i%04d-${Integer.toString(r.nextInt(1 << 20), 36)}"
      val iconField =
        if (!withIcon(i)) ""
        else {
          val img = new Array[Byte](512 + r.nextInt(3584))
          r.nextBytes(img)
          val mt = if (r.nextBoolean()) "image/svg+xml" else "image/png"
          icons += pkg -> (mt, img)
          s""","icon":{"base64data":${q(Base64.getEncoder.encodeToString(img))},"mediatype":${q(mt)}}"""
        }
      recs += Rec(Package, pkg, pkg,
        s"""{"schema":${q(Package)},"name":${q(pkg)},"defaultChannel":"stable"$iconField,""" +
          s""""description":${q(noise(r, 96))}}""")
      val n = counts(i)
      val names = (1 to n).map(v => bundleName(pkg, v, r.nextDouble() < shape.jsonShare))
      val channels = if (n > 3) Seq("stable", "fast") else Seq("stable")
      channels.foreach { c =>
        recs += Rec(Channel, pkg, c,
          s"""{"schema":${q(Channel)},"package":${q(pkg)},"name":${q(c)},"entries":[""" +
            names.map(b => s"""{"name":${q(b)}}""").mkString(",") + "]}")
      }
      names.foreach(b => recs += bundle(r, shape, pkg, b))
    }
    for (g <- 0 until shape.globals) {
      val name = s"global-$g"
      val pkgField = if (g % 2 == 0) "" else s""","package":"""""
      recs += Rec("olm.deprecations", Global, name,
        s"""{"schema":"olm.deprecations","name":${q(name)}$pkgField,"note":${q(noise(r, 48))}}""")
    }
    new Truth(recs.result(), icons.result())
  }

  /** New bundles for about `deltaShare` of the packages; `cycle` keeps the
    * version numbers of successive deltas apart. */
  def delta(seed: Long, cycle: Int, truth: Truth, shape: CatalogShape): Vector[Rec] = {
    val r = new SplittableRandom(seed * 1000003L + cycle)
    val pkgs = truth.packages.filter(_ != Global)
    val n = math.max(1, (pkgs.size * shape.deltaShare).round.toInt)
    val picked = r.ints(0, pkgs.size).distinct().limit(n.toLong).toArray.toVector.map(pkgs)
    picked.map(p => bundle(r, shape, p, bundleName(p, 1000 * (cycle + 1), json = false)))
  }

  def lines(recs: Seq[Rec]): Array[Byte] =
    recs.iterator.map(_.blob + "\n").mkString.getBytes(StandardCharsets.UTF_8)
}
