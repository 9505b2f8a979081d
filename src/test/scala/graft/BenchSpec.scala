package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** The run identity `Bench` writes into its detail record. */
class BenchSpec extends AnyFunSuite {

  private def write(p: Path, text: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, text)
  }

  test("gitSha reads a detached HEAD, a loose ref, a packed ref and a worktree") {
    val sha = "0123456789abcdef0123456789abcdef01234567"
    val other = "89abcdef0123456789abcdef0123456789abcdef"
    val repo = Files.createTempDirectory("graft-git")
    assert(Bench.gitSha(repo) === None, "no .git: no sha")

    write(repo.resolve(".git/HEAD"), s"$sha\n")
    assert(Bench.gitSha(repo) === Some(sha))

    write(repo.resolve(".git/HEAD"), "ref: refs/heads/main\n")
    write(repo.resolve(".git/packed-refs"),
      s"# pack-refs with: peeled fully-peeled sorted\n$other refs/heads/dev\n$sha refs/heads/main\n")
    assert(Bench.gitSha(repo) === Some(sha))
    write(repo.resolve(".git/refs/heads/main"), s"$other\n")
    assert(Bench.gitSha(repo) === Some(other), "a loose ref overrides the packed one")

    // a worktree: .git is a file naming its git dir, whose commondir
    // holds the shared refs
    val tree = Files.createTempDirectory("graft-worktree")
    val gitDir = repo.resolve(".git/worktrees/wt")
    write(tree.resolve(".git"), s"gitdir: $gitDir\n")
    write(gitDir.resolve("HEAD"), "ref: refs/heads/dev\n")
    write(gitDir.resolve("commondir"), "../..\n")
    assert(Bench.gitSha(tree) === Some(other))
  }
}
