package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Seeded STIX 2.0 / 2.1 bundle generator. The same seed always yields
  * byte-identical bundles. The generator also knows its own answers: the
  * distinct SCOs of every type, keyed by the properties STIX derives SCO
  * ids from, so an ingest can be checked without reading the program's
  * code.
  *
  * A share of each bundle's SCOs (`Overlap`) repeats SCOs of earlier
  * bundles of the same spec version, which drives the upsert path. */
final class StixGen(seed: Long) {
  import StixGen._

  private val rng = new scala.util.Random(seed)
  // seed-dependent key offsets, so two seeds produce different values
  private val offset: Map[String, Int] = Types.map(t => t -> (rng.nextInt(200000) * 7)).toMap
  // keys used so far, per (spec version, type)
  private val seen = mutable.Map.empty[(String, String), mutable.ArrayBuffer[Int]]
  private val next = mutable.Map.empty[(String, String), Int]
  private var bundles = 0
  /** Distinct SCO keys ever emitted, per (spec version, type). */
  val emitted = mutable.Map.empty[(String, String), mutable.Set[String]]

  private def pickKey(spec: String, t: String): Int = {
    val s = seen.getOrElseUpdate((spec, t), mutable.ArrayBuffer.empty)
    if (s.nonEmpty && rng.nextDouble() < Overlap) s(rng.nextInt(s.size))
    else {
      val k = next.getOrElse((spec, t), 0)
      next((spec, t)) = k + 1
      s += k
      k
    }
  }

  /** One bundle of `nObs` observations over `nTypes` SCO types. */
  def bundle(nObs: Int, nTypes: Int, spec: String): Bundle = {
    require(spec == "2.0" || spec == "2.1")
    val b = bundles
    bundles += 1
    val types = rng.shuffle(Types).take(math.max(1, math.min(nTypes, Types.size)))
    val perBundle = mutable.LinkedHashMap.empty[String, Sco] // id key -> SCO
    val obs = (0 until nObs).map { i =>
      val picks = (0 until 1 + rng.nextInt(3)).map(_ => types(rng.nextInt(types.size)))
      val scos = picks.distinct.flatMap { t =>
        val k = offset(t) + pickKey(spec, t)
        val s = sco(t, k)
        if (t == "network-traffic") Seq(s.refs("src_ref"), s.refs("dst_ref"), s) else Seq(s)
      }.distinctBy(_.key)
      scos.foreach(s => perBundle.getOrElseUpdate(s.t + "|" + s.key, s))
      val first = BaseTs + (b * 100000L + i) * 1000L + rng.nextInt(1000)
      val last = first + rng.nextInt(60000)
      Obs(uuid(s"obs|$seed|$b|$i"), ts(first), ts(last), 1 + rng.nextInt(5), scos)
    }
    perBundle.values.foreach(s => emitted.getOrElseUpdate((spec, s.t), mutable.Set.empty) += s.key)
    val identity = ListMap[String, Any](
      "type" -> "identity", "id" -> s"identity--${uuid(s"identity|$spec")}",
      "identity_class" -> "events", "name" -> "perfbench",
      "created" -> ts(BaseTs), "modified" -> ts(BaseTs)) ++
      (if (spec == "2.1") ListMap("spec_version" -> "2.1") else ListMap.empty)
    val objects: Seq[Any] =
      if (spec == "2.0") identity +: obs.map(o => o.json20(identity("id").toString))
      else (identity +: perBundle.values.toSeq.map(_.json21)) ++
        obs.map(o => o.json21(identity("id").toString))
    val head = ListMap[String, Any]("type" -> "bundle", "id" -> s"bundle--${uuid(s"bundle|$seed|$b")}") ++
      (if (spec == "2.0") ListMap("spec_version" -> "2.0") else ListMap.empty)
    val json = Json.render(head + ("objects" -> objects))
    val nObjects = if (spec == "2.0") 1 + obs.map(o => 1 + o.scos.size).sum
                   else objects.size
    Bundle(json, spec, nObs, nObjects, types, perBundle.values.toSeq, obs)
  }
}

object StixGen {
  /** SCO types the generator emits, each with ID-contributing properties
    * only, so distinct keys are exactly distinct stored SCOs. */
  val Types: Seq[String] = Seq(
    "ipv4-addr", "domain-name", "url", "email-addr", "mac-addr", "user-account",
    "network-traffic", "software", "mutex", "directory", "autonomous-system")

  /** The property a hunt or GET pattern constrains, per type. */
  val HuntProp: Map[String, String] = Map(
    "ipv4-addr" -> "value", "domain-name" -> "value", "url" -> "value",
    "email-addr" -> "value", "mac-addr" -> "value", "user-account" -> "user_id",
    "network-traffic" -> "dst_port", "software" -> "name", "mutex" -> "name",
    "directory" -> "path", "autonomous-system" -> "number")

  /** Share of SCOs drawn from those already emitted. */
  val Overlap = 0.3

  val BaseTs = 1700000000000L

  def ts(ms: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.ofEpochMilli(ms))

  def uuid(name: String): String =
    java.util.UUID.nameUUIDFromBytes(name.getBytes("UTF-8")).toString

  /** One SCO: its type, properties in output order, the canonical key of
    * its ID-contributing properties, and referenced SCOs. */
  final case class Sco(t: String, props: ListMap[String, Any], refs: Map[String, Sco]) {
    val key: String = t + "|" + (props ++ refs.map { case (r, s) => r -> s.key }).toSeq
      .sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(",")
    val id21: String = s"$t--${uuid(key)}"
    def json21: ListMap[String, Any] =
      ListMap[String, Any]("type" -> t, "spec_version" -> "2.1", "id" -> id21) ++ props ++
        refs.toSeq.sortBy(_._1).map { case (r, s) => r -> s.id21 }
  }

  final case class Obs(id: String, first: String, last: String, n: Int, scos: Seq[Sco]) {
    private def common(identityId: String) = ListMap[String, Any](
      "type" -> "observed-data", "id" -> s"observed-data--$id",
      "created_by_ref" -> identityId, "created" -> first, "modified" -> first,
      "first_observed" -> first, "last_observed" -> last, "number_observed" -> n)

    def json20(identityId: String): ListMap[String, Any] = {
      val idx = scos.zipWithIndex.map { case (s, i) => s.key -> i.toString }.toMap
      common(identityId) + ("objects" -> ListMap(scos.zipWithIndex.map { case (s, i) =>
        i.toString -> (ListMap[String, Any]("type" -> s.t) ++ s.props ++
          s.refs.toSeq.sortBy(_._1).map { case (r, x) => r -> idx(x.key) })
      }: _*))
    }

    def json21(identityId: String): ListMap[String, Any] =
      (ListMap[String, Any]("spec_version" -> "2.1") ++ common(identityId)) +
        ("object_refs" -> scos.map(_.id21))
  }

  final case class Bundle(
      json: String,
      spec: String,
      nObs: Int,
      nObjects: Int,
      types: Seq[String],
      scos: Seq[Sco],
      obs: Seq[Obs]) {
    def distinct(t: String): Seq[Sco] = scos.filter(_.t == t)
  }

  private val Ports = Seq(22, 53, 80, 443, 3389, 8080)

  def sco(t: String, k: Int): Sco = t match {
    case "ipv4-addr"   => Sco(t, ListMap("value" -> s"10.${(k >> 16) & 255}.${(k >> 8) & 255}.${k & 255}"), Map.empty)
    case "domain-name" => Sco(t, ListMap("value" -> s"host$k.zone${k % 7}.example.com"), Map.empty)
    case "url"         => Sco(t, ListMap("value" -> s"http://site${k % 97}.example.org/p/$k"), Map.empty)
    case "email-addr"  => Sco(t, ListMap("value" -> s"user$k@mail${k % 13}.example.net"), Map.empty)
    case "mac-addr"    => Sco(t, ListMap("value" -> f"02:00:${(k >> 16) & 255}%02x:${(k >> 8) & 255}%02x:${k & 255}%02x:00"), Map.empty)
    case "user-account" => Sco(t, ListMap("user_id" -> s"${1000 + k}", "account_login" -> s"login$k"), Map.empty)
    case "network-traffic" =>
      Sco(t, ListMap("src_port" -> (1024 + k % 50000), "dst_port" -> Ports(k % Ports.size),
        "protocols" -> Seq("ipv4", "tcp")),
        Map("src_ref" -> sco("ipv4-addr", k * 3 + 1), "dst_ref" -> sco("ipv4-addr", (k * 7 + 3) % 4096)))
    case "software"    => Sco(t, ListMap("name" -> s"sw${k % 40}", "vendor" -> s"vendor${k % 9}", "version" -> s"${k % 5}.${k % 3}"), Map.empty)
    case "mutex"       => Sco(t, ListMap("name" -> s"mtx_$k"), Map.empty)
    case "directory"   => Sco(t, ListMap("path" -> s"/var/data/d$k"), Map.empty)
    case "autonomous-system" => Sco(t, ListMap("number" -> (64512 + k)), Map.empty)
  }
}
