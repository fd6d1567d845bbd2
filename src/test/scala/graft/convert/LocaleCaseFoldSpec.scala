package graft.convert

import graft.functions.TimeWeight
import org.scalatest.funsuite.AnyFunSuite

import java.util.Locale

/** Dispatch strings case-fold under `Locale.ROOT`, not the JVM default:
  * under a Turkish default locale `"I".toLowerCase` is the dotless `ı`,
  * so a default-locale fold turns `HOMIE` into `homıe` and `LINEAR` into
  * `lınear`, and neither matches its dispatch case.
  */
class LocaleCaseFoldSpec extends AnyFunSuite {

  test("an upper-case publisher and method name dispatch under a Turkish default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag("tr-TR"))
    try {
      // the premise: this JDK folds the dotted capital I to the dotless ı
      assert("HOMIE".toLowerCase != "homie")
      val evt =
        """{"topic": "HOMIE/hubitat/hub/mode", "payload": "Home", "timestamp": 1672174513.6086972}"""
      val got = Converters.convertEventEither(evt)
      assert(got.isRight, got)
      assert(got.toOption.flatten.exists(rs => rs.size == 1 && rs.head.measurement_of == "mode"), got)
      assert(TimeWeight.method("LINEAR") == TimeWeight.Linear)
      assert(TimeWeight.method("LOCF") == TimeWeight.Locf)
    } finally Locale.setDefault(saved)
  }
}
