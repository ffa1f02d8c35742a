package graft.schemer

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8

/** Differential property: the byte scan equals the tree path,
 *  `foldJson(acc, line) ≡ merge(acc, ofJson(line))` — the same witness
 *  (compared with scales, not only by value) or the same exception class
 *  and message — on generated nested documents and on the edge cases the
 *  scan handles differently from a tree (number normalization, duplicate
 *  keys, intra- vs cross-row conflicts, inputs that are not one clean
 *  value, the parser's limits), and on byte mutations of generated
 *  documents. A row that widens nothing returns the accumulator itself. */
class StreamingFoldSpec extends AnyFunSuite {

  private type Outcome = Either[(Class[_], String), Witness]

  /** The message of a `RowMismatch` renders both witnesses, which itself
   *  throws for a number whose scale cannot be widened (`1e-999999999`
   *  against an integer); that failure is compared like a message. */
  private def outcome(f: => Witness): Outcome =
    try Right(f) catch {
      case e: Exception =>
        Left(e.getClass -> (try e.getMessage catch { case m: ArithmeticException => s"message: $m" }))
    }

  private def tree(acc: Witness, line: String, ts: Boolean): Outcome =
    outcome(Witness.merge(acc, Witness.ofJson(line, "ctx", ts), "ctx"))

  /** The document sits inside a larger byte array, at a non-zero offset,
   *  as a scan's rows do. */
  private def utf8(bytes: Array[Byte]): UTF8String = {
    val padded = Array[Byte](1, 2, 3) ++ bytes ++ Array[Byte](4, 5)
    UTF8String.fromBytes(padded, 3, bytes.length)
  }

  private def stream(acc: Witness, bytes: Array[Byte], ts: Boolean): Outcome =
    outcome(Witness.foldJson(acc, utf8(bytes), "ctx", ts))

  /** Witness equality including BigDecimal scales (`==` on a Scala
   *  BigDecimal ignores them; Java's `equals` does not). */
  private def exact(a: Witness, b: Witness): Boolean = (a, b) match {
    case (WNum(a1, a2, s), WNum(b1, b2, t)) => s == t && a1.bigDecimal == b1.bigDecimal && a2.bigDecimal == b2.bigDecimal
    case (WArr(x), WArr(y)) => exact(x, y)
    case (WMap(x), WMap(y)) => exact(x, y)
    case (WObj(xs), WObj(ys)) =>
      xs.size == ys.size && xs.zip(ys).forall { case ((k, x), (l, y)) => k == l && exact(x, y) }
    case _ => a == b
  }

  private def same(a: Outcome, b: Outcome): Boolean = (a, b) match {
    case (Right(x), Right(y)) => exact(x, y)
    case _ => a == b
  }

  /** A failure's clue: the rendering of a witness a thousand levels deep
   *  does not fit on the stack. */
  private def brief(x: Any): String =
    try x.toString.take(2000) catch { case _: StackOverflowError => "(too deep to print)" }

  /** Check one step and return the reference's next accumulator. */
  private def check(acc: Witness, line: String, ts: Boolean = false): Witness = {
    val expected = tree(acc, line, ts)
    val actual = stream(acc, line.getBytes(UTF_8), ts)
    assert(same(expected, actual), s"\n  acc:  ${brief(acc)}\n  line: ${brief(line)}\n  tree: ${brief(expected)}\n  fold: ${brief(actual)}")
    val decoded = outcome(Witness.foldJson(acc, line, "ctx", ts))
    assert(same(expected, decoded), s"\n  acc:  ${brief(acc)}\n  line: ${brief(line)}\n  tree: ${brief(expected)}\n  fold(String): ${brief(decoded)}")
    expected.getOrElse(acc)
  }

  private def checkAll(acc: Witness, lines: String*): Unit = lines.foreach(check(acc, _))

  private val num = WNum(BigDecimal(1), BigDecimal(1), 0)

  test("float tokens normalize exactly as readTree stores them") {
    for (acc <- Seq(WNull, num, WObj.empty, WArr(WNull)); l <- Seq(
        "1.50", "100.0", "1e3", "1E+3", "-0.0", "0.00", "0e7", "-1.250e-3", "12345678901234.5",
        "0.000000000000000000000000000001", "1e-400", "9.99e400",
        """{"v": 1.50}""", """{"v": 100.0}""", """{"v": [1e3, -0.0, 0.00, 1.50]}"""))
      check(acc, l)
  }

  test("integers, including ones wider than Long") {
    checkAll(WObj.empty, """{"a": 0}""", """{"a": -0}""", """{"a": 9223372036854775807}""",
      """{"a": 9223372036854775808}""", """{"a": -9223372036854775809}""",
      """{"a": 123456789012345678901234567890}""", """{"a": [1, 2.5, 99999999999999999999]}""")
    var acc: Witness = WObj.empty
    for (l <- Seq("""{"a": 5}""", """{"a": -3}""", """{"a": 100.0}""", """{"a": 99999999999999999999}""",
        """{"a": 0.001}""", """{"a": 7}"""))
      acc = check(acc, l)
  }

  test("duplicate keys keep the last value at the first position, like readTree") {
    checkAll(WObj.empty, """{"a":1,"b":2,"a":"x"}""", """{"a":1,"a":2.5}""", """{"a":"xxxxx","a":"y"}""",
      """{"o":{"k":1,"k":{"z":true}}}""", """{"l":[{"a":1,"a":null}]}""")
    val acc = check(WObj.empty, """{"a":1,"b":"xy"}""")
    // a known key whose first value widens and whose last does not
    checkAll(acc, """{"b":"q","a":2,"b":"longer"}""", """{"a":1,"a":2.5}""", """{"c":1,"c":true}""",
      """{"a":-5,"a":1}""", """{"b":"longer","b":"q"}""")
    val wide = check(WObj.empty, (0 until 80).map(i => s""""k$i":$i""").mkString("{", ",", "}"))
    checkAll(wide, """{"k70":1,"k3":2,"k70":3}""", """{"k70":1,"k3":"x","k71":3}""", """{"k70":-1,"k70":70}""")
  }

  test("multi-byte and surrogate-pair strings count UTF-16 units") {
    checkAll(WObj.empty, """{"s":"héllo"}""", """{"s":"日本語テキスト"}""", """{"s":"😀😀x"}""",
      """{"s":"😀"}""", """{"s":"é\n\t\"q\""}""", """{"😀k":"é"}""", """{"s":""}""")
    var acc: Witness = WObj.empty
    for (l <- Seq("""{"s":"ab"}""", """{"s":"😀😀😀"}""", """{"s":"日本"}""", """{"s":"abcdefg"}"""))
      acc = check(acc, l)
  }

  test("nested and empty arrays") {
    var acc: Witness = WObj.empty
    for (l <- Seq("""{"l":[]}""", """{"l":[[]]}""", """{"l":[[1],[],[2.5,3]]}""", """{"l":[[{"a":[]}]]}""",
        """{"l":[[{"a":["x"]}]]}""", """{"l":[]}""", """{"m":[[],[[]],[[[null]]]]}"""))
      acc = check(acc, l)
  }

  test("intra-row InconsistentArray vs cross-row RowMismatch") {
    val acc = check(WObj.empty, """{"a":[1],"o":{"x":"s"}}""")
    checkAll(acc, """{"a":[1,"x"]}""", """{"a":["x"]}""", """{"a":[{"b":1},[2]]}""", """{"a":{"b":1}}""",
      """{"o":{"x":1}}""", """{"o":[1]}""", """{"a":[[1],[true]]}""", """{"o":{"x":["s"]}}""")
    checkAll(WObj.empty, """{"a":[{"b":1},{"b":"x"}]}""", """[1,2]""", "1", "\"s\"", "true")
  }

  test("blank lines, trailing garbage, parse errors, top-level values") {
    for (acc <- Seq(WNull, WObj.empty, check(WObj.empty, """{"a":1}""")); l <- Seq(
        " ", "\t", "   \t ", "null", """{"a":1} xyz""", """{"a":1}}""", "1 2", """{"a":2} {"b":1}""",
        """{"a":""", """{"a":1,}""", """{"a":tru}""", """{a:1}""", "[1,2]", "[]", "[{}]", "{}",
        "NaN", """{"a":NaN}""", "-", "01", "1.", "\"unterminated"))
      check(acc, l)
  }

  test("leading bytes that select another encoding or a BOM read as the decoded String does") {
    for (bytes <- Seq(
        Array(0xef, 0xbb, 0xbf) ++ """{"a":1}""".getBytes(UTF_8).map(_ & 0xff),
        Array(0x00, 0x31), Array(0x31, 0x00), Array(0x00, 0x7b, 0x00, 0x7d), Array(0xfe, 0xff, 0x00, 0x31),
        Array(0xff, 0xfe, 0x31, 0x00)).map(_.map(_.toByte))) {
      for (acc <- Seq(WNull, WObj.empty)) {
        val expected = tree(acc, new String(bytes, UTF_8), ts = false)
        assert(same(expected, stream(acc, bytes, ts = false)), s"bytes ${bytes.mkString(",")}: ${brief(expected)}")
      }
    }
  }

  test("malformed UTF-8 reads as the decoded String does") {
    val bad = Seq(Array(0xc3), Array(0xc0, 0x80), Array(0xed, 0xa0, 0x80), Array(0xf8, 0x88, 0x80, 0x80, 0x80),
      Array(0xe2, 0x82), Array(0x80), Array(0xf4, 0x90, 0x80, 0x80), Array(0xe0, 0x80, 0x80)).map(_.map(_.toByte))
    for (b <- bad; acc <- Seq(WObj.empty, check(WObj.empty, """{"s":"abcdefghij"}"""))) {
      val bytes = """{"s":"a""".getBytes(UTF_8) ++ b ++ """b"}""".getBytes(UTF_8)
      val expected = tree(acc, new String(bytes, UTF_8), ts = false)
      assert(same(expected, stream(acc, bytes, ts = false)), s"bytes ${b.mkString(",")}: ${brief(expected)}")
    }
  }

  test("inferTimestamps: temporal strings, demotion and date-only join") {
    var acc: Witness = WObj.empty
    for (l <- Seq("""{"t":"2024-01-01"}""", """{"t":"2024-01-01T10:20:30Z"}""", """{"t":"2024-02-29"}""",
        """{"t":"2024-02-31"}""", """{"t":"2024-01-01 10:20:30.123+02:00"}""", """{"u":"2024-13-01"}""",
        """{"t":"x"}""", """{"t":"2024-01-01"}""", """{"v":["2024-01-01","2024-01-02T00:00:00"]}"""))
      acc = check(acc, l, ts = true)
    // escapes in a string of a temporal length are decoded before the check
    for (l <- Seq(s"""{"t":"2024-01-0${esc("0031")}"}""", s"""{"t":"2024-01-01T10:20:30${esc("005a")}"}""",
        """{"t":"2024\/01\/01"}""", """{"t":"abcdefghi\n"}""", s"""{"t":"${esc("0032")}024-02-31"}""")) {
      check(WObj.empty, l, ts = true)
      acc = check(acc, l, ts = true)
    }
    // a WTs accumulator met with the flag off demotes to VARCHAR
    val tsAcc = check(WObj.empty, """{"t":"2024-01-01"}""", ts = true)
    checkAll(tsAcc, """{"t":"2024-01-02"}""", """{"t":"abc"}""", """{"t":"a much longer string"}""")
  }

  test("a WMap accumulator folds every value into the map's value witness") {
    val m = WMap(WNum(BigDecimal(1), BigDecimal(9), 0))
    checkAll(m, """{"u1":5}""", """{"u1":50,"u2":-3.5}""", """{"u1":"x"}""", """{}""", """{"u1":1,"u1":2}""",
      """{"u1":1,"u2":2,"u1":99}""", """{"u1":-50,"u1":3}""", "[1]", "3")
    checkAll(WObj(Vector("m" -> WMap(WNull))), """{"m":{"a":"xy","b":null}}""", """{"m":{"a":"xxxxxxxx","a":"y"}}""",
      """{"m":{"a":{"z":1}}}""",
      """{"m":[1]}""", """{"m":{"a":1,"b":"s"}}""")
    checkAll(WArr(WMap(WStr(3))), """[{"a":"x"},{"b":"yyyy"}]""", """[{"a":1}]""", """[{"a":"x"},{"b":1}]""")
    val capped = Witness.capObjects(check(WObj.empty, (1 to 12).map(i => s""""u$i":$i""").mkString("{", ",", "}")), 8)
    assert(capped.isInstanceOf[WMap])
    checkAll(capped, """{"u99":1000}""", """{"u1":2}""")
  }

  // ---- generated documents ---------------------------------------------------

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(7000L + i)))

  private val genString: Gen[String] = Gen.oneOf(
    "", "a", "abc", "héllo", "日本語", "😀x", "a\\\"b", "\\u00e9\\n", "2024-02-29", "2024-02-31",
    "2024-01-01T10:20:30Z", "2024-01-01 10:20:30.5+01:00", "x" * 40).map(s => "\"" + s + "\"")

  private val genNumber: Gen[String] = Gen.oneOf(
    Gen.choose(-1000L, 1000L).map(_.toString),
    Gen.choose(Long.MinValue, Long.MaxValue).map(_.toString),
    Gen.oneOf("1.50", "100.0", "1e3", "-0.0", "0.00", "-12.345", "3.14159e-2", "99999999999999999999",
      "-123456789012345678901234567890.5", "2E+1", "0"))

  /** Fixed kind per key name, with `z` free: documents mostly fold
   *  cleanly and sometimes conflict. */
  private val keyKinds = Vector("s" -> 2, "n" -> 3, "b" -> 1, "o" -> 5, "l" -> 4, "z" -> -1, "é" -> 2, "😀" -> 3)

  private def genKind(kind: Int, depth: Int): Gen[String] = kind match {
    case 0 => Gen.const("null")
    case 1 => Gen.oneOf("true", "false")
    case 2 => genString
    case 3 => genNumber
    case 4 if depth > 0 =>
      // element kind fixed by depth, mixed one time in ten
      val elemKind = Seq(3, 2, 5, 4)(depth % 4)
      Gen.frequency(9 -> Gen.const(elemKind), 1 -> Gen.choose(0, 5)).flatMap { k =>
        Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, Gen.frequency(8 -> genKind(k, depth - 1), 1 -> Gen.const("null"))))
      }.map(_.mkString("[", ", ", "]"))
    case 5 if depth > 0 => genObject(depth - 1)
    case -1 => Gen.choose(0, 5).flatMap(genKind(_, depth))
    case _ => Gen.const("null")
  }

  private def genObject(depth: Int): Gen[String] = for {
    keys <- Gen.someOf(keyKinds).map(_.toVector)
    dup <- Gen.frequency(12 -> Gen.const(Vector.empty), 1 -> Gen.oneOf(keyKinds).map(Vector(_)))
    ws <- Gen.oneOf("", " ", "\t")
    vals <- Gen.sequence[Vector[String], String]((keys ++ dup).map { case (_, kind) =>
      Gen.frequency(6 -> genKind(kind, depth), 1 -> Gen.const("null"))
    })
  } yield (keys ++ dup).zip(vals).map { case ((k, _), v) => s""""$k":$ws$v""" }.mkString("{" + ws, ",", ws + "}")

  test("generated nested documents: fold ≡ tree, row by row") {
    val docs = Gen.listOfN(25, genObject(3))
    samples(docs, 200).zipWithIndex.foreach { case (seq, i) =>
      val ts = i % 3 == 0
      seq.foldLeft(WObj.empty: Witness)((acc, line) => check(acc, line, ts))
    }
  }

  /** Bytes a mutation draws from: structure, number syntax, escapes, hex
   *  digits, control bytes, and UTF-8 lead bytes that start overlong,
   *  surrogate, 4-byte, out-of-range or impossible sequences. */
  private val mutationBytes: IndexedSeq[Byte] =
    ("{}[]:,\" ".map(_.toInt) ++ "0123456789.eE+-".map(_.toInt) ++ "\\uabcdefABCDEF".map(_.toInt) ++
      Seq(0x00, 0x01, 0x08, 0x09, 0x0a, 0x0d, 0x1f, 0x7f) ++ Seq(0xc0, 0xe0, 0xed, 0xf0, 0xf4, 0xff, 0x80, 0xbf))
      .map(_.toByte).toIndexedSeq

  /** One or two single-byte edits: insert, delete or replace. Half of them
   *  land on a byte of a multi-byte character or an escape, where the
   *  scan's validation sits. */
  private def mutate(doc: Array[Byte], rnd: scala.util.Random): Array[Byte] =
    (1 to 1 + rnd.nextInt(2)).foldLeft(doc) { (d, _) =>
      val marked = d.indices.filter(j => d(j) < 0 || d(j) == '\\')
      val i = if (marked.nonEmpty && rnd.nextBoolean()) marked(rnd.nextInt(marked.size)) else rnd.nextInt(d.length + 1)
      val b = mutationBytes(rnd.nextInt(mutationBytes.size))
      rnd.nextInt(3) match {
        case 0 => d.take(i) ++ Array(b) ++ d.drop(i)
        case 1 if i < d.length => d.take(i) ++ d.drop(i + 1)
        case _ if i < d.length => d.updated(i, b)
        case _ => d :+ b
      }
    }

  test("byte mutations of generated documents: scan ≡ tree, both overloads") {
    val rnd = new scala.util.Random(11)
    var checked = 0
    samples(Gen.listOfN(20, genObject(3)), 120).zipWithIndex.foreach { case (seq, i) =>
      val ts = i % 4 == 0
      seq.foldLeft(if (i % 5 == 0) WNull else WObj.empty: Witness) { (running, line) =>
        // against the running witness, and against the empty object, where
        // every string length and number of the document shows
        for (_ <- 0 until 3; acc <- Seq(running, WObj.empty)) {
          val bytes = mutate(line.getBytes(UTF_8), rnd)
          val decoded = new String(bytes, UTF_8)
          val expected = tree(acc, decoded, ts)
          val scanned = stream(acc, bytes, ts)
          assert(same(expected, scanned),
            s"\n  acc:   ${brief(acc)}\n  bytes: ${bytes.map(b => f"${b & 0xff}%02x").mkString(" ")}\n  tree:  ${brief(expected)}\n  scan:  ${brief(scanned)}")
          val fromString = outcome(Witness.foldJson(acc, decoded, "ctx", ts))
          assert(same(expected, fromString), s"\n  acc:  ${brief(acc)}\n  line: ${brief(decoded)}\n  tree: ${brief(expected)}\n  scan(String): ${brief(fromString)}")
          checked += 1
        }
        tree(running, line, ts).getOrElse(running)
      }
    }
    assert(checked >= 100 * 20 * 6)
  }

  // ---- limits and number edges ---------------------------------------------------

  private val limits = Witness.mapper.getFactory.streamReadConstraints()

  /** Runs `body` on a thread with a 256 MB stack: the tree path (`ofNode`,
   *  `merge`) recurses once per nesting level, and a thousand levels can
   *  overflow a default thread stack before the JIT has compiled it. */
  private def onDeepStack(body: => Unit): Unit = {
    var failure: Throwable = null
    val t = new Thread(null, () => try body catch { case e: Throwable => failure = e }, "deep", 1L << 28)
    t.start()
    t.join()
    if (failure != null) throw failure
  }

  test("nesting depth, number length and name length at and one past the mapper's limits") {
    val depth = limits.getMaxNestingDepth
    onDeepStack {
      for (d <- Seq(depth - 2, depth - 1, depth, depth + 1); acc <- Seq(WNull, WObj.empty)) {
        check(acc, "[" * d + "]" * d)
        check(acc, """{"a":""" * d + "1" + "}" * d)
        check(acc, "[" * (d - 1) + """{"a":1}""" + "]" * (d - 1))
      }
    }
    val numLen = limits.getMaxNumberLength
    for (len <- Seq(498, 499, 500, 501, numLen - 1, numLen, numLen + 1); acc <- Seq(WNull, WObj.empty)) {
      val digits = "9" * len
      checkAll(acc, s"""{"n":$digits}""", s"""{"n":-${digits.drop(1)}}""", s"""{"n":1.${digits.drop(2)}}""",
        s"""{"n":${digits.drop(4)}e-5}""", s"""{"n":0.${"0" * (len - 3)}1}""")
    }
    val nameLen = limits.getMaxNameLength
    for (len <- Seq(nameLen - 1, nameLen, nameLen + 1)) {
      val k = "k" * len
      val acc = check(WObj.empty, s"""{"$k":1}""")
      checkAll(acc, s"""{"$k":2}""", s"""{"$k":"s"}""", s"""{"a":1,"$k":2.5}""")
      check(WObj.empty, s"""{"é${"k" * (len / 2)}":1}""")
    }
  }

  test("18- and 19-digit numbers at the Long limits") {
    val edges = Seq("999999999999999999", "-999999999999999999", "1000000000000000000", "9223372036854775807",
      "-9223372036854775808", "9223372036854775808", "-9223372036854775809", "99999999999999999.9",
      "0.999999999999999999", "0.9999999999999999999", "123456789012345678.5", "1.000000000000000000",
      "-92233720368547758.07", "922337203685477580.7", "0.000000000000000001", "1000000000000000000.0")
    for (e <- edges; acc <- Seq(WNull, num, WNum(BigDecimal("-1E+400"), BigDecimal("1E+400"), 0),
        WNum(BigDecimal("0.5"), BigDecimal("0.5"), 1), WNum(BigDecimal("-123456789012345678901"), BigDecimal(3), 2)))
      check(acc, e)
    var acc: Witness = WObj.empty
    for (e <- edges ++ edges.reverse) acc = check(acc, s"""{"n":$e}""")
  }

  test("negative scales, -0 and -0.0") {
    var acc: Witness = WObj.empty
    for (l <- Seq("100.0", "1e3", "1E+2", "100", "1000.000", "-0", "-0.0", "0", "0.0", "-0e0", "1e-3", "-100.0",
        "2E+1", "20.00", "-1e3", "1.0e2", "120.0"))
      acc = check(acc, s"""{"n":$l}""")
    for (l <- Seq("100.0", "-0", "-0.0", "1e3", "120.0"); a <- Seq(WNull, WNum(BigDecimal("1E+2"), BigDecimal("1E+2"), -2),
        WNum(BigDecimal(0), BigDecimal(0), 0), WNum(BigDecimal("-1.5"), BigDecimal("1E+3"), 1)))
      check(a, l)
  }

  /** A JSON `\uXXXX` escape, spelled out so that Scala does not read it
   *  as a Unicode escape of its own. */
  private def esc(hex: String): String = "\\" + "u" + hex

  test("an escaped key equal to a plain key is a duplicate; escaped names never match a raw key") {
    val ab = check(WObj.empty, """{"ab":1}""")
    val b = esc("0062")
    for (acc <- Seq(WNull, WObj.empty, ab, WMap(WNull)))
      checkAll(acc, s"""{"a$b":1,"ab":2}""", s"""{"ab":"x","a$b":2}""", s"""{"a$b":true}""",
        s"""{"${esc("0061")}b":[1],"ab":[2]}""")
    // names no raw key can spell: a quote, a backslash, a control character
    for (name <- Seq("a\\\"b", "a\\\\b", "a\\nb", "a" + esc("0000"))) {
      val acc = check(WObj.empty, "{\"" + name + "\":1,\"c\":2}")
      checkAll(acc, "{\"" + name + "\":2}", """{"a"b":1}""", "{\"a\\b\":1}", "{\"a\nb\":1}",
        "{\"a\u0000\":1}", """{"c":3,"a":4}""")
    }
  }

  test("lone surrogates: escaped in the JSON text, and raw in the String overload") {
    val (hi, lo) = (esc("d800"), esc("dc00"))
    for (acc <- Seq(WNull, WObj.empty, check(WObj.empty, """{"k?":1,"s":"abc"}""")))
      checkAll(acc, s"""{"s":"$hi"}""", s"""{"s":"${lo}x${esc("d83d")}"}""", s"""{"k$hi":1}""", s"""{"k?":2,"k$hi":1}""")
    val named = check(WObj.empty, s"""{"k$hi":1}""")
    checkAll(named, """{"k?":"x"}""", s"""{"k$hi":2}""", s"""{"k$hi":"x"}""")
    // raw unpaired surrogates: `getBytes` would turn each into `?`
    for (acc <- Seq(WNull, WObj.empty, named, check(WObj.empty, """{"k?":1,"s":"a"}"""));
        line <- Seq("{\"s\":\"a\ud800b\"}", "{\"s\":\"\udc00\"}", "{\"k\ud800\":1}", "{\"k?\":\"\ud800\"}",
          "{\"s\":\"\ud83d\ude00\"}", "{\"s\":1}\ud800", "\ud800{\"s\":1}", "{\"s\":\ud800}", "{\"s\"\udbff:1}")) {
      assert(line.exists(Character.isSurrogate))
      val expected = tree(acc, line, ts = false)
      val actual = outcome(Witness.foldJson(acc, line, "ctx", inferTimestamps = false))
      assert(same(expected, actual), s"\n  acc: ${brief(acc)}\n  line: ${brief(line)}\n  tree: ${brief(expected)}\n  scan(String): ${brief(actual)}")
    }
  }

  private val strictMapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .enable(com.fasterxml.jackson.core.JsonParser.Feature.STRICT_DUPLICATE_DETECTION)

  private def hasDuplicateKey(line: String): Boolean =
    try { strictMapper.readTree(line); false }
    catch { case _: com.fasterxml.jackson.core.JsonParseException => true }

  test("a row that widens nothing returns the accumulator itself") {
    val docs = Gen.listOfN(10, genObject(3)).map(_.filterNot(d => d.contains("\"z\"")))
    samples(docs, 100).foreach { seq =>
      val acc = seq.foldLeft(WObj.empty: Witness) { (a, l) =>
        try Witness.foldJson(a, UTF8String.fromString(l)) catch { case _: Exception => a }
      }
      seq.foreach { l =>
        val again = outcome(Witness.foldJson(acc, UTF8String.fromString(l)))
        // a row that the fold cannot take token by token (a duplicate key)
        // is re-derived on the tree path: equal, but a fresh instance
        again.foreach(w => assert((w eq acc) || (w == acc && hasDuplicateKey(l)), s"$l widened $acc"))
      }
    }
    val acc = check(WObj.empty, """{"a":[1,2.5],"s":"xyz","o":{"b":true,"c":null},"t":"2024-01-01"}""", ts = true)
    assert(Witness.foldJson(acc, UTF8String.fromString("""{"a":[2.0],"s":"x","o":{"c":null}}"""),
      inferTimestamps = true) eq acc)
    assert(Witness.foldJson(acc, UTF8String.fromString("""{"t":"2024-01-02"}"""), inferTimestamps = true) eq acc)
    assert(Witness.foldJson(acc, UTF8String.fromString("   ")) eq acc)
  }

  // ---- the fold sites ----------------------------------------------------------

  /** Ten data keys, each holding five data keys, each holding five data
   *  keys of numbers: three nested levels of key-as-data objects. */
  private val nestedDataKeys = (0 until 10).map { i =>
    s""""k$i":""" + (0 until 5).map { j =>
      s""""a${i}_$j":""" + (0 until 5).map(l => s""""b${i}_${j}_$l":1""").mkString("{", ",", "}")
    }.mkString("{", ",", "}")
  }.mkString("{", ",", "}")

  private val fullyCollapsed = WMap(WMap(WMap(num)))

  test("capObjects collapses nested data-keyed objects in one pass, idempotently") {
    val once = Witness.capObjects(Witness.ofJson(nestedDataKeys), 8)
    assert(once == fullyCollapsed)
    assert(Witness.capObjects(once, 8) == once)
  }

  test("a mapped aggregate renders the same type however many times a group is capped") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val expected = HiveRender.renderType(fullyCollapsed)
    for (rows <- 1 to 3; parts <- 1 to 2) {
      val docs = Seq.fill(rows)(nestedDataKeys).toDF("j").repartition(parts)
      val got = docs.agg(InferSchema.infer_hive_type_mapped($"j", 8)).first().getString(0)
      assert(got == expected, s"$rows rows in $parts partitions")
    }
  }

  test("inferWitness reads a non-string column through .as[String] as its text") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    // the single column is read by position, whatever its name
    val named = Seq("""{"a":1}""").toDF("x.y`z").as[String]
    assert(InferSchema.inferWitness(named) == WObj(Vector("a" -> num)))
    // a BIGINT up-casts to its decimal text: the document `7`, which is
    // not an object and so fails against the empty-object seed
    val e = intercept[org.apache.spark.SparkException] {
      InferSchema.inferWitness(Seq(7L).toDF("n").as[String])
    }
    var c: Throwable = e
    while (c != null && !c.isInstanceOf[RowMismatch]) c = c.getCause
    assert(c != null, e.toString)
    val m = c.asInstanceOf[RowMismatch]
    assert(m.row.contains("7") && m.b == WNum(BigDecimal(7), BigDecimal(7), 0), m.getMessage)
  }
}
