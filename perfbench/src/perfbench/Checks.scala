package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.dataformat.yaml.YAMLMapper
import graft.model.SyncerConfig
import perfbench.Gen.KrmObj

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Output checks, one per workload, written against the generator's own
  * records so they do not share code with the program under test. Each
  * returns the list of problems found (empty = pass). */
object Checks {
  val json = new ObjectMapper()
  private val yaml = new YAMLMapper()

  /** Order-insensitive canonical text of a JSON tree; numbers by value. */
  def canon(n: JsonNode): String =
    if (n == null || n.isNull || n.isMissingNode) "null"
    else if (n.isObject) n.fieldNames().asScala.toSeq.sorted
      .map(k => json.writeValueAsString(k) + ":" + canon(n.get(k))).mkString("{", ",", "}")
    else if (n.isArray) n.elements().asScala.map(canon).mkString("[", ",", "]")
    else if (n.isNumber) n.decimalValue().stripTrailingZeros().toPlainString
    else if (n.isTextual) json.writeValueAsString(n.asText())
    else n.asText()

  // ---------------------------------------------------------------- export

  /** `ns/group/kind/name.yaml` with the export's defaulting rules. */
  def exportPath(o: KrmObj): String =
    Seq(Option(o.namespace).filter(_.nonEmpty).getOrElse("_cluster"),
      Option(o.group).filter(_.nonEmpty).getOrElse("core"), o.kind, o.name + ".yaml").mkString("/")

  /** The source document: every non-null column of the table row. */
  def exportDoc(o: KrmObj): ObjectNode = {
    val d = json.createObjectNode()
    d.put("apiGroup", o.group); d.put("apiVersion", o.version); d.put("kind", o.kind)
    if (o.namespace != null) d.put("namespace", o.namespace)
    d.put("name", o.name)
    val l = d.putObject("labels"); o.labels.foreach { case (k, v) => l.put(k, v) }
    val a = d.putObject("annotations"); o.annotations.foreach { case (k, v) => a.put(k, v) }
    d.put("spec", o.spec); d.put("status", o.status)
    d.put("resourceVersion", o.resourceVersion); d.put("uid", o.uid)
    d.put("generation", o.generation); d.put("op", o.op)
    d
  }

  /** Every object is read back exactly once under its derived path, and
    * the entry parses back to the source document. */
  def exportReadback(objs: Seq[KrmObj], entries: Iterator[(String, String)]): Seq[String] = {
    val want = objs.map(o => exportPath(o) -> o).toMap
    val seen = mutable.HashMap.empty[String, Int]
    val errs = mutable.ArrayBuffer.empty[String]
    entries.foreach { case (path, data) =>
      seen(path) = seen.getOrElse(path, 0) + 1
      want.get(path) match {
        case None => errs += s"unexpected entry $path"
        case Some(o) =>
          val got = scala.util.Try(canon(yaml.readTree(data))).getOrElse("<unparseable>")
          if (got != canon(exportDoc(o))) errs += s"entry $path does not parse back to its source"
      }
    }
    want.keys.foreach { p =>
      val n = seen.getOrElse(p, 0)
      if (n != 1) errs += s"$p read back $n times"
    }
    errs.toSeq
  }

  // ---------------------------------------------------------------- sync

  final case class DestRow(apiVersion: String, labels: Map[String, String],
      annotations: Map[String, String], spec: String, status: String) {
    def canonical: String = Seq(apiVersion, labels.toSeq.sorted.toString,
      annotations.toSeq.sorted.toString, canonJson(spec), canonJson(status)).mkString("|")
  }
  type Key = (String, String, String, String) // group, kind, namespace, name

  private def canonJson(s: String): String =
    if (s == null) "null" else scala.util.Try(canon(json.readTree(s))).getOrElse("raw:" + s)
  private def validJson(s: String): Boolean = scala.util.Try(json.readTree(s)).isSuccess

  /** D12 shallow field merge: source fields override destination fields. */
  private def mergeShallow(d: String, s: String): String =
    if (s == null) d else if (d == null) s
    else (scala.util.Try(json.readTree(d)).toOption, scala.util.Try(json.readTree(s)).toOption) match {
      case (Some(dn: ObjectNode), Some(sn: ObjectNode)) =>
        val out = dn.deepCopy(); sn.properties().asScala.foreach(e => out.set[JsonNode](e.getKey, e.getValue)); out.toString
      case (None, _) => s
      case (_, None) => d
      case _ => s
    }

  private def kccGlob(group: String, version: String, kind: String): Boolean =
    (group == "*.cnrm.cloud.google.com" || group.endsWith(".cnrm.cloud.google.com") ||
      group == "cnrm.cloud.google.com") && version == "*" && kind == "*"

  /** Last state per destination and key after applying `epochs` in
    * order for a watcher of mode `mode`, plus the number of (event,
    * rule) pairs whose projected payload is malformed and the number of
    * matched pairs. One batch per epoch, as the stream runs them. Within
    * a batch the last clean event of a key wins (log order, which is the
    * key's generation order); the rows that event yields under several
    * syncer rules of one destination merge in syncer-name order (D12). */
  def syncModel(configs: Seq[SyncerConfig], mode: String, epochs: Iterator[Seq[KrmObj]])
      : (Map[String, Map[Key, DestRow]], Long, Long) = {
    val dests = mutable.Map.empty[String, mutable.Map[Key, DestRow]]
    var errors = 0L
    var matched = 0L
    val active = configs.filter(c => !c.suspend && c.effectiveMode == mode)
    active.foreach(c => dests.getOrElseUpdate(c.destKey, mutable.Map.empty))
    epochs.foreach { events =>
      // (dest, key) → (event index, syncer, event, spec, status), one per clean matching rule
      val batch = mutable.LinkedHashMap.empty[(String, Key), mutable.ArrayBuffer[(Int, String, KrmObj, String, String)]]
      events.zipWithIndex.foreach { case (e, seq) =>
        for (c <- active; r <- c.rules) {
          val gvkOk =
            if (kccGlob(r.group, r.version, r.kind))
              (if (r.group == "*.cnrm.cloud.google.com") e.group.endsWith("cnrm.cloud.google.com")
               else e.group == r.group)
            else e.group == r.group && e.version == r.version && e.kind == r.kind
          val nsOk = r.namespaces.isEmpty || r.namespaces.contains(e.namespace)
          if (gvkOk && nsOk) {
            matched += 1
            val fields = if (r.syncFields.isEmpty) Seq("status") else r.syncFields
            val spec = if (fields.contains("spec")) e.spec else null
            val status = if (fields.contains("status")) e.status else null
            if ((spec != null && !validJson(spec)) || (status != null && !validJson(status))) errors += 1
            else {
              val ns = Option(r.destNamespace).getOrElse(e.namespace)
              batch.getOrElseUpdate((c.destKey, (e.group, e.kind, ns, e.name)),
                mutable.ArrayBuffer.empty) += ((seq, c.name, e, spec, status))
            }
          }
        }
      }
      batch.foreach { case ((dk, key), rows) =>
        val lastSeq = rows.map(_._1).max
        val ordered = rows.filter(_._1 == lastSeq).sortBy(_._2)
        val last = ordered.head._3
        val spec = ordered.foldLeft(null: String)((acc, x) => mergeShallow(acc, x._4))
        val status = ordered.foldLeft(null: String)((acc, x) => mergeShallow(acc, x._5))
        val dest = dests(dk)
        if (last.op == "delete") dest.remove(key)
        else {
          val labels = Option(last.labels).map(_.toMap).getOrElse(null)
          val ann = Option(last.annotations).map(_.toMap).getOrElse(null)
          dest.get(key) match {
            case Some(d) =>
              dest(key) = DestRow(last.version, labels, ann, mergeShallow(d.spec, spec),
                if (status != null) status else d.status)
            case None => dest(key) = DestRow(last.version, labels, ann, spec, status)
          }
        }
      }
    }
    (dests.map { case (k, v) => k -> v.toMap }.toMap, errors, matched)
  }

  /** Problems per destination, and the number of keys that are missing,
    * unexpected or different. */
  def syncCompare(want: Map[String, Map[Key, DestRow]],
      got: Map[String, Map[Key, DestRow]]): (Seq[String], Int) = {
    val errs = mutable.ArrayBuffer.empty[String]
    var bad = 0
    (want.keySet ++ got.keySet).toSeq.sorted.foreach { dk =>
      val w = want.getOrElse(dk, Map.empty)
      val g = got.getOrElse(dk, Map.empty)
      val missing = w.keySet -- g.keySet
      val extra = g.keySet -- w.keySet
      val wrong = (w.keySet intersect g.keySet).filter(k => w(k).canonical != g(k).canonical)
      if (missing.nonEmpty) errs += s"$dk: ${missing.size} keys missing, e.g. ${missing.head}"
      if (extra.nonEmpty) errs += s"$dk: ${extra.size} unexpected keys, e.g. ${extra.head}"
      if (wrong.nonEmpty) errs += s"$dk: ${wrong.size} keys differ, e.g. ${wrong.head}"
      bad += missing.size + extra.size + wrong.size
    }
    (errs.toSeq, bad)
  }
}
