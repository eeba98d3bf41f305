package graft

import org.scalatest.funsuite.AnyFunSuite

/** `klepto init` parity (cmd/init.go:28-46): writes the sample config,
  * refuses to overwrite, and the sample must round-trip through the
  * config loader. */
class InitSpec extends AnyFunSuite with TempDirs {

  test("init writes a loadable sample config and refuses overwrite") {
    val dir = tempDir("graft_init")
    val path = dir.resolve(".graft.toml").toString
    assert(Init.run(path) == path)
    val tables = config.Config.loadFile(path)
    assert(tables.map(_.name) == Seq("users", "orders", "logs"))
    assert(tables.find(_.name == "logs").exists(_.ignoreData))
    // matcher alias substituted into orders' Match
    assert(tables.find(_.name == "orders")
      .exists(_.filter.matchExpr == "users.active = TRUE"))
    intercept[IllegalStateException](Init.run(path))
  }
}
