package graft.marc

import java.io.StringReader

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

/** MARCXML ↔ normalized MARC codec (S3/F1/F2).
  *
  * Parser accepts `<collection><record>…</record>…</collection>` or a bare
  * `<record>`, namespace-agnostic on local names, with up to 9 indicators
  * (reference shape: util/.../XmlMetadataParserMarcInJson.java:54-105,
  * MarcXmlParserToJson.java:48-91). Writer emits the MARC21 slim layout with
  * XML text escaping and U+FFFD replacement of XML-illegal characters
  * (util/.../JsonToMarcXml.java:29-77, EncodeXmlText.java:14-58).
  *
  * Pure string functions — Spark sources wrap them in per-file flatMaps
  * (see graft.sources.MarcSources).
  */
object MarcXml {

  private val factory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_COALESCING, java.lang.Boolean.TRUE)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES,
      java.lang.Boolean.FALSE)
    f
  }

  /** Parse all `<record>` elements from a MARCXML document string. */
  def parseCollection(xml: String): Seq[MarcRecord] = {
    val reader = factory.createXMLStreamReader(new StringReader(xml))
    val out = Seq.newBuilder[MarcRecord]
    try {
      while (reader.hasNext) {
        if (reader.next() == XMLStreamConstants.START_ELEMENT
          && reader.getLocalName == "record") {
          out += parseRecord(reader)
        }
      }
    } finally reader.close()
    out.result()
  }

  /** Parse one record, positioned on its START_ELEMENT; returns with the
    * reader on the record's END_ELEMENT. Events other than elements and
    * text (comments, processing instructions) are skipped.
    */
  private[graft] def parseRecord(r: XMLStreamReader): MarcRecord = {
    var leader: Option[String] = None
    val fields = Seq.newBuilder[MarcField]
    var depth = 1
    while (depth > 0 && r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "leader" => leader = Some(readText(r))
            case "controlfield" =>
              val tag = attr(r, "tag")
              fields += MarcField(tag, Some(readText(r)), Nil, Nil)
            case "datafield" =>
              fields += parseDataField(r)
            case _ => depth += 1
          }
        case XMLStreamConstants.END_ELEMENT => depth -= 1
        case _ => ()
      }
    }
    MarcRecord(leader, fields.result())
  }

  private def parseDataField(r: XMLStreamReader): MarcField = {
    val tag = attr(r, "tag")
    // up to 9 indicators, kept only if present on the element
    val inds = (1 to 9).flatMap { i =>
      Option(r.getAttributeValue(null, s"ind$i")).map(v => Indicator(s"ind$i", v))
    }
    val sfs = Seq.newBuilder[Subfield]
    var depth = 1
    while (depth > 0 && r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT if r.getLocalName == "subfield" =>
          val code = attr(r, "code")
          sfs += Subfield(code, readText(r))
        case XMLStreamConstants.START_ELEMENT => depth += 1
        case XMLStreamConstants.END_ELEMENT => depth -= 1
        case _ => ()
      }
    }
    MarcField(tag, None, inds, sfs.result())
  }

  /** text content of the current element (positioned on START_ELEMENT) */
  private def readText(r: XMLStreamReader): String = {
    val sb = new StringBuilder
    var depth = 1
    while (depth > 0 && r.hasNext) {
      r.next() match {
        case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
          if (depth == 1) sb.append(r.getText)
        case XMLStreamConstants.START_ELEMENT => depth += 1
        case XMLStreamConstants.END_ELEMENT => depth -= 1
        case _ => ()
      }
    }
    sb.toString
  }

  private def attr(r: XMLStreamReader, name: String): String =
    Option(r.getAttributeValue(null, name)).getOrElse("")

  // ---------------- writer ----------------

  /** XML-escape text; XML-illegal control characters become U+FFFD
    * (EncodeXmlText.java:14-58 semantics).
    */
  def encodeXmlText(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      case c if c == '\t' || c == '\n' || c == '\r' => sb.append(c)
      case c if c < 0x20 => sb.append('�')
      case c => sb.append(c)
    }
    sb.toString
  }

  /** One record as a MARC21-slim `<record>` element. */
  def toXml(rec: MarcRecord): String = {
    val sb = new StringBuilder
    sb.append("<record xmlns=\"http://www.loc.gov/MARC21/slim\">")
    rec.leader.foreach(l =>
      sb.append("<leader>").append(encodeXmlText(l)).append("</leader>"))
    rec.fields.foreach { f =>
      f.value match {
        case Some(v) =>
          sb.append(s"""<controlfield tag="${encodeXmlText(f.tag)}">""")
            .append(encodeXmlText(v)).append("</controlfield>")
        case None =>
          sb.append(s"""<datafield tag="${encodeXmlText(f.tag)}"""")
          f.indicators.foreach(i =>
            sb.append(s""" ${i.name}="${encodeXmlText(i.value)}""""))
          sb.append(">")
          f.subfields.foreach(s2 =>
            sb.append(s"""<subfield code="${encodeXmlText(s2.code)}">""")
              .append(encodeXmlText(s2.value)).append("</subfield>"))
          sb.append("</datafield>")
      }
    }
    sb.append("</record>")
    sb.toString
  }

  def toCollectionXml(recs: Seq[MarcRecord]): String =
    recs.map(toXml).mkString(
      "<collection xmlns=\"http://www.loc.gov/MARC21/slim\">", "", "</collection>")
}
