package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.AtomicFile

/** The mains' one JSON string escape and one temp-then-rename publish. */
class JsonPublishSpec extends AnyFunSuite {

  test("every escaped string parses back equal through Jackson") {
    val om = new ObjectMapper()
    for (s <- Seq("", "plain", "q\"uote", "back\\slash", "new\nline", "cr\rlf",
                  "tab\there", "ctl\u0001x", "all \" \\ \n \r \t \u0001 é ✓")) {
      val lit = Bench.jstr(s)
      assert(!lit.exists(_ < ' '), s"raw control char in $lit")
      assert(om.readTree(lit).textValue === s)
    }
  }

  test("publish replaces the target in one move and leaves no temp file, also when the write fails") {
    val dir = Paths.get(TempDirs.create("atomic-file"))
    val target = dir.resolve("state.json")
    AtomicFile.publish(target)(_.write("one".getBytes(StandardCharsets.UTF_8)))
    AtomicFile.publish(target)(_.write("two".getBytes(StandardCharsets.UTF_8)))
    assert(Files.readString(target) === "two")
    intercept[IllegalStateException] {
      AtomicFile.publish(target) { out =>
        out.write("torn".getBytes(StandardCharsets.UTF_8))
        throw new IllegalStateException("write failed")
      }
    }
    assert(Files.readString(target) === "two")
    val names = Files.list(dir)
    try assert(names.toArray.map(_.toString).toSeq === Seq(target.toString))
    finally names.close()
  }
}
