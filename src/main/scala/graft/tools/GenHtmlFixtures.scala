package graft.tools

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import graft.GraftSession
import org.apache.spark.unsafe.types.UTF8String

/** One-off generator for the HTML-extraction fixtures behind
  * `text_html_extract`: deterministic pages assembled by WRAPPING known
  * clean text in markup (tags, scripts, comments, entities,
  * boilerplate), so the expected extraction is recorded INDEPENDENTLY
  * of the parser under test — the generator composes `expected` from
  * the source paragraphs it embedded, not by running the extractor
  * (the [[GenPhashFixtures]] stance: truth from construction, with a
  * write-time assertion that [[graft.functions.HtmlText.extract]]
  * actually recovers it — a fixture the parser cannot recover is a
  * lie, caught before commit).
  *
  * Manifest parquet (file, length, content_md5, text, n_chars): the
  * DuckDB oracle replays the compare (and the downstream C4 line
  * heuristic) from the manifest while the engine-side query must
  * reproduce `text` from the committed BYTES.
  *
  * Run once, outputs committed:
  * `sbt "runMain graft.tools.GenHtmlFixtures"`.
  */
object GenHtmlFixtures {

  private def md5hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes)
      .map(b => f"$b%02x").mkString

  case class Entry(file: String, length: Long, content_md5: String,
    text: String, n_chars: Int)

  /** A page = (html, expected clean text). Every template embeds the
    * SAME deterministic paragraphs so variation is pure markup. */
  private def page(i: Int): (String, String) = {
    val p1 = s"Deterministic paragraph $i about corpus extraction pipelines."
    val p2 = s"The quick crawl number ${i * 7 % 100} fetched ${i + 3} pages today."
    val p3 = s"Short line $i"
    val nav = "Home About Contact" // boilerplate: no terminal punctuation
    i % 10 match {
      case 0 => // plain blocks + inline decoration
        (s"<html><body><p>$p1</p><p>The <b>quick</b> crawl number " +
          s"${i * 7 % 100} fetched <em>${i + 3}</em> pages today.</p></body></html>",
          s"$p1\n$p2")
      case 1 => // script + style decoys carrying fake tags and text
        (s"<html><head><style>p { color: red; }</style>" +
          s"<script>var x = '<p>not text $i</p>';</script></head>" +
          s"<body><div>$p1</div><div>$p2</div></body></html>",
          s"$p1\n$p2")
      case 2 => // entities in flowing text
        (s"<p>Fish &amp; chips $i &lt;tagged&gt; &#65;&#x42; done.</p>" +
          s"<p>$p2</p>",
          s"Fish & chips $i <tagged> AB done.\n$p2")
      case 3 => // comments hiding markup; nav boilerplate rows
        (s"<nav>$nav</nav><!-- <p>hidden $i</p> --><p>$p1</p>" +
          s"<footer>$nav</footer>",
          s"$nav\n$p1\n$nav")
      case 4 => // attributes with '>' inside quotes; uppercase tags
        (s"""<DIV CLASS="hero"><a title="a>b" href="#x">$p1</a></DIV>""" +
          s"<P>$p2</P>",
          s"$p1\n$p2")
      case 5 => // lists and headers; short unpunctuated lines
        (s"<h1>$p3</h1><ul><li>First item $i.</li><li>$p3</li></ul>" +
          s"<p>$p1</p>",
          s"$p3\nFirst item $i.\n$p3\n$p1")
      case 6 => // literal '<' in text; br-split lines; nbsp runs
        (s"<p>5 &lt; 6 and 7 < 9 holds for $i.<br>Second&nbsp;&nbsp;line $i.</p>",
          s"5 < 6 and 7 < 9 holds for $i.\nSecond line $i.")
      case 7 => // tables: one row per line; whitespace noise
        (s"<table><tr><td>  $p1  </td></tr>\n\n<tr><td>\t$p2</td></tr></table>",
          s"$p1\n$p2")
      case 8 => // '<' + non-ASCII letter is literal TEXT, not a tag
        (s"<p>x<у literal $i</p><p>tag<b>s</b> close.</p>",
          s"x<у literal $i\ntags close.")
      case _ => // signed numeric references are NOT entities (HTML keeps
        // them literal; a parseInt that accepts '+' would decode them)
        (s"<p>signed &#+65; and &#x+41; stay $i.</p><p>ok &#66; works.</p>",
          s"signed &#+65; and &#x+41; stay $i.\nok B works.")
    }
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("fixtures/html")
    new File(outDir).mkdirs()
    val entries = scala.collection.mutable.ArrayBuffer[Entry]()
    for (i <- 0 until 18) {
      val (html, expected) = page(i)
      val got = graft.functions.HtmlText.extract(UTF8String.fromString(html))
      require(got != null && got.toString == expected,
        s"page $i: extractor disagrees with construction:\n got <${got}>\n exp <$expected>")
      val name = f"page_$i%03d.html"
      val bytes = html.getBytes(StandardCharsets.UTF_8)
      Files.write(Paths.get(outDir, name), bytes)
      entries += Entry(name, bytes.length.toLong, md5hex(bytes), expected,
        expected.length)
    }
    val spark = GraftSession(2)
    import spark.implicits._
    FixtureIO.writeSingleFile(spark, entries.toSeq.toDF(),
      s"${new File(outDir).getAbsoluteFile.getParent}/html_manifest.parquet")
    println(s"wrote ${entries.size} pages to $outDir + manifest")
    spark.stop()
  }
}
