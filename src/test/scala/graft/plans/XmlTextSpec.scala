package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Tolerant XML text extraction (the reference pull parser's text-event
  * semantics — MXParser.java:207-247, XmppPacketReader.java:319-355).
  */
class XmlTextSpec extends SparkSpec {
  import spark.implicits._

  private def x(s: String): String = XmlTextExpr.extract(s, "body")

  test("plain text, empty element, and absence are distinguishable") {
    assert(x("<m><body>hi</body></m>") == "hi")
    assert(x("<m><body></body></m>") == "")
    assert(x("<m><other>hi</other></m>") == null) // absent
    assert(x("<m><body/></m>") == null)           // no text event ever fires
    // through the Column expression: a null document yields null
    val df = Seq(("<m><body>ok</body></m>", "body"),
      (null, "body")).toDF("xml", "tag")
    val got = df.select(XmlText(col("xml"), col("tag")).as("t"))
      .as[Option[String]].collect().toSeq
    assert(got == Seq(Some("ok"), None))
  }

  test("CDATA contributes verbatim, no entity decoding inside") {
    assert(x("<body><![CDATA[<raw & stuff>]]></body>") == "<raw & stuff>")
    assert(x("<body>a<![CDATA[&amp;]]>b</body>") == "a&amp;b")
  }

  test("predefined entities and numeric character references decode") {
    assert(x("<body>A &amp; B &lt;x&gt; &apos;q&quot;</body>") == "A & B <x> 'q\"")
    assert(x("<body>&#65;&#x42;</body>") == "AB")
    assert(x("<body>&#x1F600;</body>") == "😀") // beyond-BMP
  }

  test("comments and processing instructions are skipped") {
    assert(x("<body>x<!-- hidden <fake> -->y<?pi data?>z</body>") == "xyz")
  }

  test("descendant text concatenates; same-name nesting tracked by depth") {
    assert(x("<body><i>in<b>ner</b></i>tail</body>") == "innertail")
    assert(x("<m><body>a<body>b</body>c</body>extra</m>") == "abc")
  }

  test("attribute values may contain '>'") {
    assert(x("""<m note="a>b"><body at='x>y'>t</body></m>""") == "t")
  }

  test("malformed constructs yield null, never a truncated string (MXParser throw parity)") {
    assert(x("<body>oops") == null)              // unclosed element
    assert(x("<body>&unknown;</body>") == null)  // unresolvable entity
    assert(x("<body>&#xZZ;</body>") == null)     // garbled char ref
    assert(x("<body>&#1114112;</body>") == null) // beyond Unicode range
    assert(x("<body><![CDATA[open</body>") == null)
    assert(x("<body><!-- open</body>") == null)
    // a stray '<' in character data is markup gone wrong, not a tag:
    // NULL, never the silently truncated "3  5"
    assert(x("<body>3 < 4 > 5</body>") == null)
    assert(x("<body>a <3 b</body>") == null)     // digit can't start a name
  }

  test("spec-valid leading-zero character references decode") {
    assert(x("<body>&#00000000065;</body>") == "A")
    assert(x("<body>&#x000042;</body>") == "B")
    // but an absurd digit string still dead-letters (parse overflow)
    assert(x("<body>&#99999999999999999999;</body>") == null)
  }

}
