package graft

import org.scalacheck.{Arbitrary, Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.identity.{Jwt, LruCache}
import graft.model._

/** Property-based invariants (SURVEY.md §5.3): generated TradeEvents
  * with nullable unions and optional fields must survive the binary
  * Avro codec; signing/verification must agree for every payload and
  * disagree for every tampered token; the J2 cache must honour its
  * LRU bound and TTL under arbitrary access sequences.
  */
object PropertySpec extends Properties("graft") {

  val str: Gen[String] =
    Gen.oneOf(Gen.alphaNumStr, Gen.asciiPrintableStr,
      Gen.const(""), Gen.const("déjà-vu ☃"))

  val genTradeData: Gen[TradeData] = for {
    id <- str; sym <- str
    cond <- Gen.option(Gen.listOf(str).map(_.toSeq))
    price <- Gen.chooseNum(-1e12, 1e12)
    ts <- Arbitrary.arbitrary[Long]
    vol <- Gen.chooseNum(0.0, 1e9)
  } yield TradeData(id, cond, price, sym, ts, vol)

  val genCredential: Gen[TradeCredential] = for {
    td <- genTradeData; vcId <- str; date <- str
    issuer <- str; subject <- str; jwt <- str
  } yield TradeCredential(
    Seq("https://www.w3.org/2018/credentials/v1"), vcId, date,
    Issuer(issuer), CredentialSubject(subject, Claims(td)),
    Proof(jwt, "JwtProof2020"), Seq("VerifiableCredential"))

  val genEvent: Gen[TradeEvent] = for {
    ts <- str; sym <- str; id <- str
    ssi <- Arbitrary.arbitrary[Boolean]
    td <- genTradeData; cred <- genCredential
  } yield TradeEvent(ts, sym, id,
    tradeData = if (ssi) None else Some(td),
    tradeCredential = if (ssi) Some(cred) else None)

  property("avro codec round-trips every generated TradeEvent") =
    forAll(genEvent) { ev =>
      val codec = new AvroCodec
      codec.decode(codec.encode(ev)) == ev
    }

  property("the row codec writes Avro's own bytes, and Avro's reader reads them") =
    forAll(genEvent) { ev =>
      val bytes = new AvroCodec().encode(ev)
      java.util.Arrays.equals(bytes, AvroReference.write(ev)) &&
        AvroReference.read(bytes) == ev
    }

  property("avro encoding is deterministic") =
    forAll(genEvent) { ev =>
      java.util.Arrays.equals(
        new AvroCodec().encode(ev), new AvroCodec().encode(ev))
    }

  property("every signed jwt verifies; every tampered jwt does not") =
    forAll(str, str) { (payload, secret0) =>
      val secret = if (secret0.isEmpty) "k" else secret0
      val jwt = Jwt.sign(payload, secret)
      Jwt.verify(jwt, secret) && !Jwt.verify(jwt + "x", secret) &&
        !Jwt.verify(jwt, secret + "x")
    }

  property("jwt payload extraction inverts signing") =
    forAll(str) { payload =>
      Jwt.payload(Jwt.sign(payload, "secret")).contains(payload)
    }

  property("the oracle's integer round-half-up twin equals BigDecimal " +
    "HALF_UP for every ratio and scale") =
    // a bounded so scaled = round(a/b · 10^d) stays < 2^53, where the
    // int→double cast is exact; beyond that the contract weakens to
    // "engine-identical double" (both engines run the same cast+divide),
    // which hashing parity needs but a BigDecimal compare can't witness
    forAll(Gen.chooseNum(0L, 1000000L), Gen.chooseNum(1L, 100000000L),
      Gen.chooseNum(0, 9)) { (a, b, d) =>
      // ((2a*10^d + b) // (2b)) / 10^d — the DuckDB-side formula every
      // ExactRound.ratio oracle uses (Spark side pinned in
      // ExactRoundSpec); BigInt division truncates like `//` on
      // non-negative operands
      val pow = BigInt(10).pow(d)
      val scaled = (BigInt(2) * a * pow + b) / (BigInt(2) * b)
      val twin = scaled.toDouble / pow.toDouble
      val want = new java.math.BigDecimal(a)
        .divide(new java.math.BigDecimal(b), d,
          java.math.RoundingMode.HALF_UP).doubleValue()
      Prop(twin == want) :| s"a=$a b=$b d=$d twin=$twin want=$want"
    }

  property("lru cache never exceeds its bound and expires by TTL") =
    forAll(Gen.listOf(Gen.chooseNum(0, 50)), Gen.chooseNum(1, 20)) {
      (keys, max) =>
        var now = 0L
        val cache = new LruCache[Int, Int](max, ttlMs = 100L, clock = () => now)
        keys.foreach { k => cache.getOrElseUpdate(k, k * 2); now += 1 }
        val sizeOk = cache.size <= max
        // a fresh entry hits within TTL and re-computes after expiry
        cache.getOrElseUpdate(999, 1)
        val withinTtl = cache.getOrElseUpdate(999, 2) == 1
        now += 1000
        val afterTtl = cache.getOrElseUpdate(999, 3) == 3
        Prop(sizeOk && withinTtl && afterTtl)
    }
}
