package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generators for the three workloads. Every input is a pure
  * function of (seed, config): the same seed gives the same records, and
  * `digest` hashes their canonical byte form for the determinism check.
  * No wall-clock value enters a record here; the open-loop sync phase
  * stamps creation times only when it writes an epoch file. */
object Gen {

  /** Zipf(s) sampler over ranks [0, n) by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Integer sizes for `parts` groups summing to `total`, Zipf-shaped. */
  def zipfSizes(total: Int, parts: Int, s: Double): Array[Int] = {
    val w = Array.tabulate(parts)(i => 1.0 / math.pow(i + 1.0, s))
    val sizes = w.map(x => math.max(1, (x / w.sum * total).toInt))
    sizes(0) += total - sizes.sum
    sizes
  }

  def rng(seed: Long, salt: String): SplittableRandom =
    new SplittableRandom(seed * 1000003L ^ salt.hashCode.toLong)

  def digest(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  // ---------------------------------------------------------------- KRM

  final case class Gvk(group: String, version: String, kind: String) {
    def table: String = (if (group.isEmpty) "core" else group) + "." + kind.toLowerCase
  }

  /** One KRM object in `KrmModel.krmSchema` column order. */
  final case class KrmObj(group: String, version: String, kind: String, namespace: String,
      name: String, labels: Seq[(String, String)], annotations: Seq[(String, String)],
      spec: String, status: String, resourceVersion: String, uid: String,
      generation: Long, op: String) {
    def canonical: String = {
      def kv(m: Seq[(String, String)]) = Option(m).map(_.map { case (k, v) => s"$k=$v" }.mkString(",")).orNull
      Seq(group, version, kind, namespace, name, kv(labels), kv(annotations),
        spec, status, resourceVersion, uid, generation.toString, op).mkString("\t")
    }
  }

  val exportGvks: Seq[Gvk] = Seq(
    Gvk("", "v1", "Pod"), Gvk("", "v1", "ConfigMap"), Gvk("", "v1", "Secret"),
    Gvk("", "v1", "Service"), Gvk("", "v1", "ServiceAccount"), Gvk("", "v1", "Endpoints"),
    Gvk("", "v1", "PersistentVolumeClaim"), Gvk("", "v1", "Event"),
    Gvk("apps", "v1", "Deployment"), Gvk("apps", "v1", "ReplicaSet"),
    Gvk("apps", "v1", "StatefulSet"), Gvk("apps", "v1", "DaemonSet"),
    Gvk("batch", "v1", "Job"), Gvk("batch", "v1", "CronJob"),
    Gvk("networking.k8s.io", "v1", "Ingress"), Gvk("networking.k8s.io", "v1", "NetworkPolicy"),
    Gvk("rbac.authorization.k8s.io", "v1", "Role"),
    Gvk("rbac.authorization.k8s.io", "v1", "RoleBinding"),
    Gvk("policy", "v1", "PodDisruptionBudget"), Gvk("autoscaling", "v2", "HorizontalPodAutoscaler"),
    Gvk("storage.cnrm.cloud.google.com", "v1beta1", "StorageBucket"),
    Gvk("compute.cnrm.cloud.google.com", "v1beta1", "ComputeInstance"),
    Gvk("sql.cnrm.cloud.google.com", "v1beta1", "SQLInstance"),
    Gvk("iam.cnrm.cloud.google.com", "v1beta1", "IAMPolicyMember"))

  private val Alnum = "abcdefghijklmnopqrstuvwxyz0123456789"
  private def word(r: SplittableRandom, n: Int): String =
    new String(Array.fill(n)(Alnum.charAt(r.nextInt(Alnum.length))))

  /** Skewed payload size in [min, max] bytes: most objects small, a few large. */
  private def payloadSize(r: SplittableRandom, min: Int, max: Int): Int = {
    val u = r.nextDouble()
    (min * math.pow(max.toDouble / min, u * u * u)).toInt
  }

  /** A spec JSON document of roughly `bytes` bytes. */
  def specJson(r: SplittableRandom, bytes: Int, gen: Long): String = {
    val sb = new StringBuilder
    sb.append(s"""{"replicas":${1 + r.nextInt(5)},"image":"gcr.io/proj-${r.nextInt(20)}/app-${word(r, 4)}:v1.${r.nextInt(30)}.${gen % 10}","env":[""")
    var i = 0
    while (sb.length < bytes - 40) {
      if (i > 0) sb.append(',')
      sb.append(s"""{"name":"VAR_${i}","value":"${word(r, 8 + r.nextInt(40))}"}""")
      i += 1
    }
    sb.append("]}")
    sb.toString
  }

  def statusJson(r: SplittableRandom, gen: Long): String =
    s"""{"phase":"${if (r.nextInt(10) == 0) "Pending" else "Running"}","observedGeneration":$gen,""" +
      s""""conditions":[{"type":"Ready","status":"True","reason":"${word(r, 6)}"}]}"""

  final case class ExportConfig(objects: Int, namespaces: Int, clusterScopedFrac: Double,
      tableZipfS: Double, payloadMinBytes: Int, payloadMaxBytes: Int)

  /** Cluster snapshot: one table per GVK with Zipf-sized object counts. */
  def krmSnapshot(seed: Long, c: ExportConfig): Seq[(Gvk, Seq[KrmObj])] = {
    val r = rng(seed, "krm_export")
    val sizes = zipfSizes(c.objects, exportGvks.size, c.tableZipfS)
    val order = exportGvks.indices.toArray
    for (i <- order.indices.reverse) { // seeded shuffle: which GVK is big
      val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    exportGvks.indices.map { gi =>
      val g = exportGvks(order(gi))
      val objs = (0 until sizes(gi)).map { i =>
        val ns = if (r.nextDouble() < c.clusterScopedFrac) null
          else s"team-${r.nextInt(c.namespaces)}"
        val gen = 1L + r.nextInt(50)
        KrmObj(g.group, g.version, g.kind, ns, s"${g.kind.toLowerCase}-$i-${word(r, 5)}",
          Seq("app" -> s"app-${r.nextInt(200)}", "tier" -> Seq("web", "db", "cache")(r.nextInt(3))),
          Seq("owner" -> s"team-${r.nextInt(40)}"),
          specJson(r, payloadSize(r, c.payloadMinBytes, c.payloadMaxBytes) * 3 / 4, gen),
          statusJson(r, gen), (100000 + r.nextInt(900000)).toString,
          s"${word(r, 8)}-${word(r, 4)}-${word(r, 12)}", gen, "upsert")
      }
      g -> objs
    }
  }

  // ---------------------------------------------------------------- sync

  final case class SyncConfig(liveObjects: Int, namespaces: Int, eventsPerEpoch: Int,
      warmupEpochs: Int, backlogEpochs: Int, rateEpochs: Int, keyZipfS: Double,
      opMix: Seq[Double], malformedFrac: Double, payloadMinBytes: Int, payloadMaxBytes: Int)

  val syncGvks: Seq[Gvk] = Seq(
    Gvk("", "v1", "ConfigMap"), Gvk("", "v1", "Secret"), Gvk("", "v1", "Service"),
    Gvk("", "v1", "Pod"), Gvk("apps", "v1", "Deployment"), Gvk("apps", "v1", "StatefulSet"),
    Gvk("batch", "v1", "Job"), Gvk("networking.k8s.io", "v1", "Ingress"),
    Gvk("storage.cnrm.cloud.google.com", "v1beta1", "StorageBucket"),
    Gvk("compute.cnrm.cloud.google.com", "v1beta1", "ComputeInstance"))

  /** The CDC log: epoch 0 creates the live set, every later epoch is a
    * Zipf-hot mix of update/create/delete/re-create. A hot key is usually
    * hit several times within one epoch, as a busy object is in a watch
    * stream; its events carry increasing generations. */
  def cdcLog(seed: Long, c: SyncConfig): IndexedSeq[IndexedSeq[KrmObj]] = {
    val r = rng(seed, "krm_sync")
    val nEpochs = c.warmupEpochs + c.backlogEpochs + c.rateEpochs
    val maxSlots = c.liveObjects + c.eventsPerEpoch * nEpochs // every event a create, at most
    val slotGvk = new Array[Int](maxSlots)
    val slotNs = new Array[String](maxSlots)
    val slotName = new Array[String](maxSlots)
    val slotGen = new Array[Long](maxSlots)
    val live = new Array[Boolean](maxSlots)
    val dead = scala.collection.mutable.ArrayBuffer.empty[Int]
    var nSlots = 0
    val zipf = new Zipf(maxSlots, c.keyZipfS)
    def newSlot(): Int = {
      val s = nSlots; nSlots += 1
      slotGvk(s) = r.nextInt(syncGvks.size)
      slotNs(s) = s"team-${r.nextInt(c.namespaces)}"
      slotName(s) = s"obj-$s-${word(r, 4)}"
      live(s) = true
      s
    }
    def event(s: Int, op: String, malformed: Boolean): KrmObj = {
      val g = syncGvks(slotGvk(s))
      slotGen(s) += 1
      val gen = slotGen(s)
      if (op == "delete")
        KrmObj(g.group, g.version, g.kind, slotNs(s), slotName(s), null, null, null, null,
          gen.toString, s"uid-$s", gen, "delete")
      else {
        val spec0 = specJson(r, payloadSize(r, c.payloadMinBytes, c.payloadMaxBytes), gen)
        val spec = if (malformed) spec0.dropRight(7) + ",\"x\":" else spec0
        KrmObj(g.group, g.version, g.kind, slotNs(s), slotName(s),
          Seq("app" -> s"app-${s % 97}", "rev" -> gen.toString), Seq("owner" -> s"team-${s % 13}"),
          spec, statusJson(r, gen), gen.toString, s"uid-$s", gen, "upsert")
      }
    }
    /** A live key by Zipf rank; a deleted rank is drawn again. */
    def hotLive(): Int = {
      var s = zipf.sample(r) % nSlots
      while (!live(s)) s = zipf.sample(r) % nSlots
      s
    }
    val epoch0 = (0 until c.liveObjects).map(_ => event(newSlot(), "upsert", malformed = false))
    val cum = c.opMix.scanLeft(0.0)(_ + _).tail
    val rest = (0 until nEpochs).map { _ =>
      (0 until c.eventsPerEpoch).map { _ =>
        val u = r.nextDouble()
        val malformed = r.nextDouble() < c.malformedFrac
        if (u < cum(0)) event(hotLive(), "upsert", malformed)
        else if (u < cum(1) || (u >= cum(2) && dead.isEmpty)) event(newSlot(), "upsert", malformed)
        else if (u < cum(2)) {
          val s = hotLive(); live(s) = false; dead += s; event(s, "delete", malformed = false)
        } else {
          val s = dead.remove(r.nextInt(dead.size)); live(s) = true; event(s, "upsert", malformed)
        }
      }
    }
    epoch0 +: rest
  }

  // ---------------------------------------------------------------- corpus

  final case class CorpusConfig(docs: Int, vocab: Int, vocabZipfS: Double, langMix: Seq[(String, Double)],
      exactDupFrac: Double, nearDupFrac: Double, hubDocs: Int, minTokens: Int, maxTokens: Int)

  final case class Doc(id: Long, text: String, lang: String, source: String) {
    def canonical: String = s"$id\t$lang\t$source\t$text"
  }

  /** Unique docs, exact duplicates and near-duplicate clusters of 2-6
    * docs; then `hubDocs` of the unique docs that no duplicate copies get
    * one shared boilerplate paragraph (the hub). */
  def documents(seed: Long, c: CorpusConfig): IndexedSeq[Doc] = {
    val r = rng(seed, "corpus_curate")
    val vocabs = c.langMix.map { case (l, _) =>
      l -> Array.fill(c.vocab)(word(r, 2 + r.nextInt(8)).filter(_.isLetter) + l.take(1))
    }.toMap
    val zipf = new Zipf(c.vocab, c.vocabZipfS)
    val langCum = c.langMix.map(_._2).scanLeft(0.0)(_ + _).tail
    def pickLang(): String = {
      val u = r.nextDouble() * langCum.last
      c.langMix(langCum.indexWhere(u < _))._1
    }
    def fresh(lang: String): Array[String] =
      Array.fill(c.minTokens + r.nextInt(c.maxTokens - c.minTokens + 1))(vocabs(lang)(zipf.sample(r)))
    val hub = fresh("en").take(40).mkString(" ")
    val out = scala.collection.mutable.ArrayBuffer.empty[Doc]
    val unique = scala.collection.mutable.ArrayBuffer.empty[Int]
    val copied = scala.collection.mutable.HashSet.empty[Int]
    while (out.size < c.docs) {
      val id = out.size.toLong + 1
      val src = s"src${r.nextInt(10)}"
      val u = r.nextDouble()
      if (u < c.exactDupFrac && out.nonEmpty) {
        val i = r.nextInt(out.size)
        copied += i
        out += Doc(id, out(i).text, out(i).lang, src)
      } else if (u < c.exactDupFrac + c.nearDupFrac) {
        // a near-duplicate cluster: a base and light edits of it
        val lang = pickLang()
        val base = fresh(lang)
        val n = math.min(2 + r.nextInt(5), c.docs - out.size)
        (0 until n).foreach { j =>
          val toks = base.clone()
          if (j > 0) toks.indices.foreach { t =>
            if (r.nextDouble() < 0.06) toks(t) = vocabs(lang)(zipf.sample(r))
          }
          out += Doc(out.size.toLong + 1, toks.mkString(" "), lang, src)
        }
      } else {
        val lang = pickLang()
        unique += out.size
        out += Doc(id, fresh(lang).mkString(" "), lang, src)
      }
    }
    val hubbed = unique.filterNot(copied).toArray
    for (i <- 0 until math.min(c.hubDocs, hubbed.length)) { // seeded partial shuffle
      val j = i + r.nextInt(hubbed.length - i)
      val t = hubbed(i); hubbed(i) = hubbed(j); hubbed(j) = t
      out(hubbed(i)) = out(hubbed(i)).copy(text = out(hubbed(i)).text + " " + hub)
    }
    out.toIndexedSeq
  }
}
