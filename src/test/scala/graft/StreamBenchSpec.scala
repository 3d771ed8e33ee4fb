package graft

import org.scalatest.funsuite.AnyFunSuite

/** `StreamBench`'s command line is checked before any session starts. */
class StreamBenchSpec extends AnyFunSuite {

  test("only soak_fullchain with at least MinRows rows and positive chunks is accepted") {
    import StreamBench.{MinRows, parseArgs}
    assert(parseArgs(Seq("soak_fullchain")).contains((1000000, 100000)))
    assert(parseArgs(Seq("soak_fullchain", s"$MinRows")).contains((MinRows, 100000)))
    assert(parseArgs(Seq("soak_fullchain", "400000", "40000")).contains((400000, 40000)))
    Seq(
      Seq(),
      Seq("memory"),
      Seq("soak_fulchain"),
      Seq("400000"),
      Seq("soak_fullchain", s"${MinRows - 1}"),
      Seq("soak_fullchain", "4e5"),
      Seq("soak_fullchain", "400000", "0"),
      Seq("soak_fullchain", "400000", "-1"),
      Seq("soak_fullchain", "400000", "40000", "extra")
    ).foreach(args => assert(parseArgs(args).isEmpty, args.mkString(" ")))
  }
}
