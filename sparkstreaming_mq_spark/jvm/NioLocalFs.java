package sparkstreaming_mq_spark.jvm;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's local FileContext ({@code org.apache.hadoop.fs.local.LocalFs}) with
 * the two calls that start a process per file done in-process. Without native
 * libhadoop, RawLocalFileSystem runs {@code chmod} for every created file and
 * directory, and the FileContext rename path runs {@code readlink} on a
 * {@code file:} URI string (which always fails and falls back to
 * getFileStatus). Streaming checkpoints (offsets, commits, state deltas and
 * their .crc sidecars) go through FileContext, so every micro-batch paid
 * hundreds of spawns. Files, modes and checksums are unchanged.
 */
public class NioLocalFs extends ChecksumFs {
  public NioLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(new Raw(conf));
  }

  /** RawLocalFs (whose constructors are package-private) over NioRawLocalFileSystem. */
  static class Raw extends DelegateToFileSystem {
    Raw(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override public int getUriDefaultPort() { return -1; }
    @Override public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }
    @Override public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }
    @Override public boolean isValidName(String src) { return true; }
  }

  static class NioRawLocalFileSystem extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      short mode = permission.toShort();
      Set<PosixFilePermission> bits = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission b : PosixFilePermission.values()) {  // OWNER_READ .. OTHERS_EXECUTE
        if ((mode & (0400 >> b.ordinal())) != 0) bits.add(b);
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), bits);
    }

    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      return Files.isSymbolicLink(pathToFile(f).toPath())
          ? super.getFileLinkStatus(f) : getFileStatus(f);
    }
  }
}
